"""Event latency and backlog from a file-stream checkpoint and the
generator's ledger, on a synthetic checkpoint."""

import json
import os

import pytest

from workloads import _batches_of_files, backlog_growth, stream_latency


def _log(path, entries, mtime=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))
    if mtime is not None:
        os.utime(path, (mtime, mtime))


@pytest.fixture
def checkpoint(tmp_path):
    ck = str(tmp_path)
    src = lambda name, b: {"path": f"file:///in/{name}", "timestamp": 0, "batchId": b}  # noqa: E731
    _log(f"{ck}/sources/0/0", [src("part-seed.log", 0)])
    _log(f"{ck}/sources/0/1", [src("part-00000.log", 1), src("part-00001.log", 1)])
    _log(f"{ck}/sources/0/2", [src("part-00002.log", 2)])
    with open(f"{ck}/sources/0/.2.crc", "wb") as f:
        f.write(b"\xfb\x00")  # checksum files are skipped
    # micro-batch 1 found no new file (a no-data batch run for the
    # watermark), so the source log and the micro-batch ids part ways
    for batch, log_offset, commit in [(0, 0, 100.0), (1, 0, 101.0), (2, 1, 103.0), (3, 2, 104.5)]:
        _log(f"{ck}/offsets/{batch}", [{"batchWatermarkMs": 0}, {"logOffset": log_offset}])
        _log(f"{ck}/commits/{batch}", [{"nextBatchWatermarkMs": 0}], mtime=commit)
    _log(f"{ck}/offsets/4", [{"batchWatermarkMs": 0}, {"logOffset": 2}])  # started, not committed
    return ck


def test_files_map_to_the_micro_batch_that_read_them(checkpoint):
    file_batch, commits = _batches_of_files(checkpoint)
    assert file_batch == {"part-seed.log": 0, "part-00000.log": 2, "part-00001.log": 2, "part-00002.log": 3}
    assert commits == {0: 100.0, 1: 101.0, 2: 103.0, 3: 104.5}


def test_latency_is_commit_minus_creation_weighted_by_kept_events(checkpoint):
    file_batch, commits = _batches_of_files(checkpoint)
    files = [
        {"name": "part-seed.log", "due": 99.0, "moved": 99.0, "n": 10, "kept": 8},
        {"name": "part-00000.log", "due": 101.5, "moved": 101.5, "n": 10, "kept": 9},
        {"name": "part-00001.log", "due": 102.0, "moved": 102.0, "n": 10, "kept": 1},
        {"name": "part-00002.log", "due": 102.5, "moved": 102.6, "n": 10, "kept": 10},
        {"name": "part-00003.log", "due": 104.0, "moved": 104.0, "n": 10, "kept": 10},
    ]
    lat = stream_latency(files, file_batch, commits, (101.0, 105.0))
    # in the window: 9 events at 1.5 s, 1 at 1.0 s, 10 at 2.0 s; the last
    # file was never committed
    assert lat["events"] == 20
    assert lat["p50_ms"] == pytest.approx(1500.0)
    assert lat["p99_ms"] == pytest.approx(2000.0)
    assert lat["files_not_committed"] == 1
    # commits inside the window at 101, 103 and 104.5: the lines of the
    # last two (20 + 10) over the 3.5 s since the first
    assert lat["lines_per_s"] == pytest.approx(30 / 3.5)
    # backlog just after the commits in the window: 0 at 101; 10 at 103
    # (part-00002 moved in at 102.6, not read yet); 10 at 104.5 (part-00002
    # read, part-00003 moved in)
    pts = [(101.0, 0), (103.0, 10), (104.5, 10)]
    mx, my = sum(t for t, _ in pts) / 3, sum(b for _, b in pts) / 3
    slope = sum((t - mx) * (b - my) for t, b in pts) / sum((t - mx) ** 2 for t, _ in pts)
    assert backlog_growth(files, file_batch, commits, (101.0, 105.0)) == pytest.approx(slope)
    assert slope > 0
