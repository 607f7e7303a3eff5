"""Open-loop weblog generator, run as its own process.

Every ``tick`` seconds from ``start`` it moves one file of ``rate * tick``
lines into the watched directory with an atomic rename, whether or not the
program keeps up. The lines of a file are created (stamped ``created_ms``)
at the file's due time; their event times cover the tick before it. One
JSON line per file goes to the ledger: index, due time, rename time, first
event id and line count.

    python3 perfbench/loadgen.py --seed 1 --rate 4000 --tick 0.5 \\
        --start <epoch s> --files 40 --first-id 100000 --dir IN --ledger L
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from weblog import gen_lines  # noqa: E402


def file_lines(seed: int, index: int, per_file: int, first_id: int, due: float, tick: float):
    return gen_lines(
        seed, per_file, first_id + index * per_file, due - tick, tick, int(due * 1000)
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--tick", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--first-id", type=int, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--ledger", required=True)
    a = ap.parse_args(argv)

    per_file = int(a.rate * a.tick)
    stage = a.dir.rstrip("/") + ".staging"
    os.makedirs(stage, exist_ok=True)
    with open(a.ledger, "w") as ledger:
        for k in range(a.files):
            due = a.start + k * a.tick
            lines, _ = file_lines(a.seed, k, per_file, a.first_id, due, a.tick)
            tmp = os.path.join(stage, f"part-{k:05d}.log")
            with open(tmp, "w") as f:
                f.write("\n".join(lines) + "\n")
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(tmp, os.path.join(a.dir, f"part-{k:05d}.log"))
            moved = time.time()
            ledger.write(
                json.dumps(
                    {"k": k, "due": due, "moved": moved, "first_id": a.first_id + k * per_file, "n": per_file}
                )
                + "\n"
            )
            ledger.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
