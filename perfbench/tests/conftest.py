import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the benchmark's modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the engine

import pytest


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from gohangout_spark.session import get_spark

    work = str(tmp_path_factory.mktemp("spark"))
    s = get_spark(
        "perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.sql.warehouse.dir": work, "spark.ui.showConsoleProgress": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
