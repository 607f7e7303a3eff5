"""Known defects of the engine that the benchmark works around. Each test is
a strict expected failure: the change that fixes the defect makes it pass,
and must then drop the marker (and the workaround)."""

import pytest
from pyspark.errors import ParseException

from weblog import pipeline_conf


@pytest.mark.xfail(
    strict=True,
    raises=ParseException,
    reason=(
        "a streaming LinkMetric/LinkStatsMetric on the default '@timestamp' "
        "event-time field fails at withWatermark: the name reaches "
        "withWatermark unquoted (gohangout_spark/operators/metrics.py, "
        "metrics_df) and Spark rejects it with PARSE_SYNTAX_ERROR. The "
        "weblog workloads set timestamp_field: event_time instead."
    ),
)
def test_streaming_link_stats_metric_on_default_timestamp(spark, tmp_path):
    from gohangout_spark.pipeline import Pipeline

    in_dir, out_dir = tmp_path / "in", tmp_path / "out"
    in_dir.mkdir()
    (in_dir / "part-0.log").write_text(
        "2026-01-01T00:00:01Z u0001 /api/pay 200 0.120 1 0 region=eu&ua=ios\n"
    )
    conf = pipeline_conf(str(in_dir), str(out_dir), batch=False)
    del conf["timestamp_field"]
    for flt in conf["filters"]:
        if "Date" in flt:
            flt["Date"]["target"] = "@timestamp"
        if "LinkStatsMetric" in flt:
            del flt["LinkStatsMetric"]["timestamp"]
    p = Pipeline.from_config(conf)
    queries = p.run_streaming(spark, checkpoint=str(tmp_path / "ck"))
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    assert spark.read.parquet(str(out_dir / "events")).count() >= 1
