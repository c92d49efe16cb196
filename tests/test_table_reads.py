"""The analytics queries do no work they already know the answer to.

Every ``__spark_entry__._t`` read carries its declared schema, so
building a query runs no Spark job (an inferred read runs a one-task
schema job each), and the declared schemas are pinned to what Spark
infers from the tables. Per-row inputs of the shingle lambdas are bound
as columns, so no lambda re-normalizes or re-splits the text once per
element.
"""

import glob
import hashlib
import os
import uuid

import pytest

import __spark_entry__ as E
from davar_lab_ocr_spark.operators.dedup import word_shingle_rows
from davar_lab_ocr_spark.operators.textstats import PUNCT, fingerprint
from perfbench.inputs import write_analytics
from perfbench.workloads import HEADLINE


@pytest.fixture(scope="module")
def analytics_dir(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tables") / "analytics")
    write_analytics(path, seed=7, scale=0.1)
    return path


def _tables(analytics_dir):
    """(dir, name) of every declared table present in the generated
    tables or in an sf* test-table set."""
    sf_root = os.path.dirname(E.SF_DEFAULT)
    for d in [analytics_dir] + sorted(glob.glob(os.path.join(sf_root, "sf*"))):
        for name in E.TABLE_DDL:
            if os.path.exists(os.path.join(d, f"{name}.parquet")):
                yield d, name


def _jobs(spark, build) -> list[int]:
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build")
    try:
        build()
    finally:
        sc.setJobGroup(None, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_building_queries_runs_no_job(spark, analytics_dir):
    qs = E.queries()
    for name in HEADLINE:
        assert _jobs(spark, lambda: qs[name](spark, analytics_dir)) == [], name
    for d, name in _tables(analytics_dir):
        assert _jobs(spark, lambda: E._t(spark, d, name)) == [], (d, name)


def test_declared_schemas_match_inferred(spark, analytics_dir):
    for d, name in _tables(analytics_dir):
        inferred = spark.read.parquet(f"{d}/{name}.parquet").schema
        assert E._t(spark, d, name).schema == inferred, (d, name)


def _lambda_bodies(plan: str) -> list[str]:
    """Every ``lambdafunction(...)`` call in a plan string, parentheses
    balanced."""
    bodies = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth = 0
        for end in range(start + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        bodies.append(plan[start:end + 1])
        start = plan.find("lambdafunction(", start + 1)
    return bodies


TEXTS = [
    "Hello, World! The QUICK brown fox; jumps over the lazy dog.",
    "a b  c d e f g h",
    "Short.",
    "",
    "UPPER lower MiXeD -- punct'uation \"quoted\" (and) [brackets]",
]


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    # a parquet scan, not a local relation, which the optimizer would
    # evaluate away before any lambda reaches the plan
    path = str(tmp_path_factory.mktemp("docs") / "docs.parquet")
    spark.createDataFrame(list(enumerate(TEXTS)), "doc_id bigint, text string").write.parquet(path)
    return spark.read.parquet(path)


def test_lambdas_read_bound_columns(docs):
    for df in (fingerprint(docs), word_shingle_rows(docs)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bodies = _lambda_bodies(plan)
        assert bodies, plan
        for body in bodies:
            assert "translate(" not in body and "split(" not in body, body


def _fingerprint_py(text: str, k: int = 8) -> str:
    norm = text.lower().translate(str.maketrans("", "", PUNCT))
    return min(
        hashlib.md5(norm[i:i + k].encode()).hexdigest()
        for i in range(max(len(norm) - k + 1, 1))
    )


def test_fingerprint_matches_python(docs):
    got = {r.doc_id: r.fp for r in fingerprint(docs).collect()}
    assert got == {i: _fingerprint_py(t) for i, t in enumerate(TEXTS)}
