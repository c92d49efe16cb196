"""Every ``queries()`` entry matches its DuckDB ``oracle_sql()`` at sf0.001,
by the same comparison as ``tools/selfcheck.py``."""

import os

import pytest

import __spark_entry__ as E
from tools.oracle_check import compare, oracle_connection

SF = E.SF_DEFAULT
# the reference checkout sits next to the directory holding the sf* tables
REFERENCE = os.path.join(os.path.dirname(os.path.dirname(SF)), "reference")
# queries that read files shipped with the reference checkout
NEEDS_REFERENCE = {
    "ref_det_eval", "ctw_det_eval", "spot_e2e_eval", "spot_lexicon_eval",
    "spot_lexicon_weak_eval", "conll_ner_decode", "track_fscore_eval",
    "track_ata_eval", "track_mot_eval",
}
QUERIES = E.queries()
ORACLES = E.oracle_sql()

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason=f"{SF} absent")


@pytest.fixture(scope="module")
def oracle():
    con = oracle_connection(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, oracle, name):
    if name in NEEDS_REFERENCE and not os.path.isdir(REFERENCE):
        pytest.skip("reference checkout absent")
    sdf = QUERIES[name](spark, SF).toPandas()
    odf = oracle.execute(ORACLES[name]).df()
    assert compare(sdf, odf) == [], name
