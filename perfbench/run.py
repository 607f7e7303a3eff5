"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload weblog_batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A fuller record of the run (checks, host noise, every
metric) is written under ``.perfbench/runs/``; a traced run also writes its
spans there. See perfbench/README.md for what each workload and metric
means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from measure import Tracer, cpu_times, host_noise  # noqa: E402

WORKLOADS = ("weblog_batch", "weblog_stream")
CORES = 2  # Spark task threads (local[CORES])
DRIVER_MEMORY = "3g"


class Context:
    """Run-wide state: arguments, directories, the tracer and the Spark
    session (which the set-up phase restarts several times)."""

    def __init__(self, args, root: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = root
        self.work = os.path.join(root, ".perfbench")
        self.cache = os.path.join(self.work, "inputs")
        self.run_dir = os.path.join(self.work, "run", self.workload)
        self.tracer = Tracer(self.trace)
        self.spark = None
        self.layer: dict[str, float] = {}
        self.checks: dict = {}
        self.notes: dict = {}

    # ---------------------------------------------------------- session
    def spark_conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    @property
    def event_dir(self) -> str:
        return os.path.join(self.work, "eventlog")

    def start_session(self):
        """Stop any running session and start a fresh one (the first call
        also launches the JVM)."""
        from gohangout_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                master=f"local[{CORES}]",
                shuffle_partitions=CORES,
                extra_conf=self.spark_conf(),
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def describe(self, what: str) -> None:
        """Tag the jobs the next call launches, so the event log can tie
        them to the span that caused them."""
        self.spark.sparkContext.setJobDescription(what)

    def fresh_dir(self, *parts) -> str:
        path = os.path.join(self.run_dir, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


def prepare_env(root: str) -> None:
    work = os.path.join(root, ".perfbench")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers import the engine: they need the checkout on their path
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    sys.path.insert(0, root)


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its
    standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gohangout_spark", "pipeline.py")):
        print("perfbench: run from the root of a checkout (gohangout_spark/ not found)", file=sys.stderr)
        return 2
    prepare_env(root)
    ctx = Context(args, root)
    if ctx.trace:
        shutil.rmtree(ctx.event_dir, ignore_errors=True)
        os.makedirs(ctx.event_dir)

    import workloads

    cpu0, t0 = cpu_times(), time.time()
    try:
        result = getattr(workloads, ctx.workload)(ctx)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        stop_jvm()
    noise = host_noise(cpu0, cpu_times())

    e2e = result["e2e"]
    if ctx.trace:
        from measure import EventLog

        layer = workloads.layer_from_log(ctx, EventLog.from_dir(ctx.event_dir))
    units = workloads.UNITS
    failed, attempted = result["failed"], result["attempted"]
    shown = layer if ctx.trace else e2e
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(shown.items())},
    }

    runs = os.path.join(ctx.work, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = f"{ctx.workload}-s{ctx.seed}-t{int(ctx.trace)}-{int(t0)}"
    record = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "trace": ctx.trace,
        "wall_s": time.time() - t0,
        "host": noise,
        "checks": ctx.checks,
        "notes": ctx.notes,
        "e2e": e2e,
        "recorded": result["recorded"],
        "result": out,
    }
    with open(os.path.join(runs, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if ctx.trace:
        ctx.tracer.dump(os.path.join(runs, stem + ".spans.jsonl"))
    print(f"perfbench: host {json.dumps(noise)}", file=sys.stderr)
    print(f"perfbench: recorded {json.dumps(result['recorded'], sort_keys=True)}", file=sys.stderr)
    print(f"perfbench: checks {json.dumps(ctx.checks, sort_keys=True)}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
