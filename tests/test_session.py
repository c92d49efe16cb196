"""Building a plan in a ``get_spark`` session does not capture call sites.

With ``spark.python.sql.dataFrameDebugging.enabled`` on (PySpark's
default), every Column function call also looks up the active session,
reads a conf and sets and clears the JVM-side origin with the Python
call site: about half of the py4j round trips of building extract().
"""

from py4j.clientserver import ClientServerConnection
from pyspark.errors.utils import is_debugging_enabled

from davar_lab_ocr_spark.corpus import make_raw_corpus, raw_df
from davar_lab_ocr_spark.plans.extract import extract


def test_debugging_is_off(spark):
    assert is_debugging_enabled() is False


def test_building_extract_is_cheap_in_py4j_commands(spark, tmp_path, monkeypatch):
    raw_rows, _ = make_raw_corpus(10, seed=9, giant_every=0)
    raw_df(spark, raw_rows).write.parquet(str(tmp_path / "raw"))
    raw = spark.read.parquet(str(tmp_path / "raw"))

    commands = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        commands.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    extract(raw)
    monkeypatch.undo()
    # py4j's deferred object deletes ("m" commands) arrive whenever the
    # Python garbage collector runs, so they are not counted
    sent = [c for c in commands if not c.startswith("m\n")]
    # about 600 with debugging off, about 1,370 with it on
    assert len(sent) <= 800, len(sent)
