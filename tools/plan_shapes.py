"""Regenerate tests/plan_shapes.json: the plan shape of every headline query.

    python tools/plan_shapes.py

For each name in bench.HEADLINE, runs the query at sf0.01 on the tier-1
test session (local[4], 4 shuffle partitions, as tests/conftest.py builds
it) and records ``planstats.shape``: scan, exchange, join, Generate and
Python-eval node counts of the AQE-final plan, and the Spark jobs run.
tests/test_plan_audit.py asserts every pinned shape exactly, so a plan
that changes, for better or worse, shows up as a reviewed diff of the file.
"""

from __future__ import annotations

import ast
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from gohangout_spark import get_spark
from gohangout_spark.planstats import shape
from gohangout_spark.workload import QUERIES

SF_DIR = "/root/testdata/sf0.01"
OUT = os.path.join(ROOT, "tests", "plan_shapes.json")


def headline() -> list[str]:
    """bench.HEADLINE, read without importing bench: the import sets
    SPARK_DRIVER_MEMORY=16g, and the tier-1 session runs at the default."""
    with open(os.path.join(ROOT, "bench.py")) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "HEADLINE":
            return ast.literal_eval(node.value)
    raise LookupError("bench.py defines no HEADLINE")


def main() -> None:
    spark = get_spark("gohangout-spark-plan-shapes", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    shapes = {}
    for name in headline():
        shapes[name] = shape(spark, lambda: QUERIES[name][0](spark, SF_DIR))
        print(name, shapes[name], file=sys.stderr)
    with open(OUT, "w") as f:
        json.dump({"sf_dir": SF_DIR, "shapes": shapes}, f, indent=1)
        f.write("\n")
    print(f"wrote {OUT} ({len(shapes)} queries)")


if __name__ == "__main__":
    main()
