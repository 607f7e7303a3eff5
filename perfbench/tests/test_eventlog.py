"""The event-log reader on a small log recorded from Spark 4.1.2.

The log (data/eventlog-spark-4.1.2.jsonl, trimmed to the events the reader
uses) comes from a local[2] session that ran two jobs:

- "write": spark.range(1000) with a modulo column, repartitioned to 2 and
  written as parquet (2 files, 1000 rows);
- "read": those files read back, passed through an identity mapInPandas and
  counted per key (7 keys), written to the noop sink.
"""

import os

import pytest

from measure import EventLog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog-spark-4.1.2.jsonl")


@pytest.fixture(scope="module")
def ev():
    with open(LOG) as f:
        return EventLog(f.readlines())


def test_metric_names_spark_emits_are_known(ev):
    names = {name for name, _, _ in ev.accum_meta.values()}
    for expected in (
        "scan time",
        "number of files read",
        "time in aggregation build",
        "time to run Python workers",
        "number of written files",
        "written output",
        "shuffle bytes written",
    ):
        assert expected in names


def test_layer_figures(ev):
    m = ev.layer_metrics()
    assert m["sinks.rows_written"] == 1000
    assert m["sinks.files_written"] == 2
    assert m["sinks.bytes_written"] > 0
    assert m["functions.python_rows"] == 1000  # every row crossed into Python
    assert m["functions.python_run_ms"] > 0
    assert m["io.scans"] == 1 and m["io.files_read"] == 2
    # task input records: the 1000 range rows and the 1000 parquet rows
    assert m["io.rows_read"] == 2000
    assert m["session.shuffle_write_bytes"] > 0
    assert m["session.shuffle_write_bytes"] == m["session.shuffle_read_bytes"]
    assert m["session.agg_build_ms"] >= 0 and m["session.task_run_s"] > 0
    assert m["session.tasks"] == len(ev.tasks) and m["session.jobs"] == len(ev.jobs)


def test_jobs_carry_the_description_set_before_them(ev):
    descs = {j["desc"] for j in ev.jobs.values()}
    assert descs == {"write", "read"}
    assert all(t["desc"] in descs for t in ev.tasks)
    assert all(s <= e for s, e in ev.task_intervals())
