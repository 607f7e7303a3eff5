"""One-off calibration of the benchmark; not part of a benchmark run.

    python3 perfbench/calibrate.py [--seed 1] [--seconds 15]

Run from the root of a checkout. Writes ``perfbench/calibration.json``:

- ``rate_ladder``: weblog_stream at several fixed input rates, to show
  where the chosen rate sits against saturation (latency rises, then the
  backlog grows);
- ``single_thread``: weblog_batch on ``local[1]``, the single-threaded
  baseline for the ``local[2]`` figures;
- ``tracing_overhead``: each workload's end-to-end metrics traced minus
  untraced, as a share of untraced.

Each configuration runs in its own process, so each starts a cold JVM as a
benchmark run does.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RATES = (500, 1000, 2000)

_SNIPPET = """
import sys
sys.path.insert(0, {here!r})
import run, workloads
for k, v in {overrides!r}.items():
    setattr(run if hasattr(run, k) else workloads, k, v)
sys.exit(run.main({argv!r}))
"""


def run_once(workload: str, seed: int, seconds: int, trace: int = 0, **overrides) -> dict:
    """One benchmark run with module constants overridden; returns its
    record from .perfbench/runs."""
    argv = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    code = _SNIPPET.format(here=HERE, overrides=overrides, argv=argv)
    before = set(glob.glob(".perfbench/runs/*.json"))
    subprocess.run([sys.executable, "-c", code], check=True, stdout=subprocess.DEVNULL)
    (path,) = set(glob.glob(".perfbench/runs/*.json")) - before
    with open(path) as f:
        return json.load(f)


def summary(rec: dict) -> dict:
    return {
        "correct": rec["result"]["correct"],
        "e2e": rec["e2e"],
        "recorded": rec["recorded"],
        "checks": rec["checks"],
        "steal_pct": rec["host"]["steal_pct"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    a = ap.parse_args(argv)

    out = {"seed": a.seed, "seconds": a.seconds, "cpus": os.cpu_count()}
    out["rate_ladder"] = {
        str(r): summary(run_once("weblog_stream", a.seed, a.seconds, STREAM_RATE=r)) for r in RATES
    }
    out["single_thread"] = summary(run_once("weblog_batch", a.seed, a.seconds, CORES=1))
    overhead = {}
    for w in ("weblog_batch", "weblog_stream"):
        rec = run_once(w, a.seed, a.seconds)
        plain = {**rec["e2e"], **rec["recorded"]}
        rec = run_once(w, a.seed, a.seconds, trace=1)
        traced = {**rec["e2e"], **rec["recorded"]}
        overhead[w] = {k: (traced[k] - plain[k]) / plain[k] for k in plain}
    out["tracing_overhead"] = overhead
    with open(os.path.join(HERE, "calibration.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
