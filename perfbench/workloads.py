"""The two workloads. Each takes the run ``Context`` and returns
``{"e2e": {...}, "attempted": n, "failed": n}``;
layer figures that do not come from the event log go into ``ctx.layer``.

The engine is driven only through public entry points: ``session.get_spark``,
``config.load_config``, ``Pipeline.from_config`` / ``transform`` /
``run_batch`` / ``run_streaming`` and ``Source.batch`` / ``Source.stream``.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

import yaml

from measure import (
    codegen_ms,
    cpu_delta,
    median,
    patch_attr,
    pct,
    peak_rss_bytes,
    progress_metrics,
    thread_cpu_s,
    tree_cpu_s,
    uncovered,
    undo_patches,
)

E2E_UNITS = {
    "setup_s": "s",
    "cpu_ms_per_line": "ms",
}
# Figures each run records (and prints on standard error) that are not
# end-to-end metrics: on a shared host they do not repeat within a bound
# (see README, "Host noise").
RECORDED_UNITS = {
    "setup_wall_s": "s",
    "first_pass_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.task_launch_ms": "ms",
    "session.no_task_s": "s",
    "session.task_run_s": "s",
    "session.task_cpu_s": "s",
    "session.gc_s": "s",
    "session.codegen_ms": "ms",
    "session.shuffle_write_bytes": "bytes",
    "session.shuffle_read_bytes": "bytes",
    "session.shuffle_write_ms": "ms",
    "session.fetch_wait_ms": "ms",
    "session.agg_build_ms": "ms",
    "session.sort_ms": "ms",
    "session.spill_bytes": "bytes",
    "session.peak_exec_mem_bytes": "bytes",
    "session.broadcast_bytes": "bytes",
    "io.scans": "count",
    "io.files_read": "count",
    "io.bytes_read": "bytes",
    "io.rows_read": "count",
    "io.scan_ms": "ms",
    "functions.python_run_ms": "ms",
    "functions.python_rows": "count",
    "config.load_config_ms": "ms",
    "pipeline.from_config_ms": "ms",
    "pipeline.transform_ms": "ms",
    "operators.plan_ms": "ms",
    "expr.compile_ms": "ms",
    "sources.bind_ms": "ms",
    "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
    "sources.rows_per_batch_p50": "count",
    "sinks.write_s": "s",
    "sinks.calls": "count",
    "sinks.rows_written": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.write_ms_p50": "ms",
    "streaming.batches": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_p99": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_update_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.rows_dropped_late": "count",
    "loadgen.late_ms_p99": "ms",
    "loadgen.backlog_growth_eps": "1/s",
}
UNITS = {**E2E_UNITS, **RECORDED_UNITS, **LAYER_UNITS}

# Spans whose wall time is attributed to tasks or to the driver
# (session.no_task_s).
MEASURED = "measure"

BATCH_FILES = 4
BATCH_LINES_PER_FILE = 10_000
BATCH_EVENT_T0 = 1_767_225_600.0  # 2026-01-01T00:00:00Z
BATCH_EVENT_SPAN_S = 6 * 3600
MIN_WARM_PASSES = 3
WARMUP_PASSES = 1  # passes after the cold one before measuring: the JIT is still settling
SETUPS = 5  # set-ups per run; setup_s is their median

STREAM_RATE = 500  # lines/s
STREAM_TICK_S = 0.5
STREAM_TRIGGER_S = 3  # processing-time trigger: a micro-batch every 3 s
STREAM_WARMUP_S = 9.0  # three micro-batches before measuring
STREAM_DRAIN_S = 30.0
LATE_LIMIT_MS = 1000.0  # generator later than this at p99: run invalid
BACKLOG_LIMIT = 0.20  # backlog growing faster than this share of the rate: invalid


# ------------------------------------------------------------- instruments
def instrument(ctx, pipeline) -> list:
    """Traced runs only: spans around the program's layer entry points
    (FilterBox.apply, compile_conditions, Pipeline.transform,
    Source.batch/stream). Returns the patches to undo."""
    patches: list = []
    if not ctx.trace:
        return patches
    import gohangout_spark.expr.conditions as cond
    import gohangout_spark.operators.base as base
    import gohangout_spark.operators.dedup_filter as dedup_filter
    import gohangout_spark.pipeline as pl

    tr = ctx.tracer
    patch_attr(patches, base.FilterBox, "apply", lambda f: tr.wrap("operators.apply", f))
    for mod in (cond, base, dedup_filter, pl):
        patch_attr(patches, mod, "compile_conditions", lambda f: tr.wrap("expr.compile_conditions", f))
    patch_attr(patches, pipeline, "transform", lambda f: tr.wrap("pipeline.transform", f))
    for src in pipeline.sources:
        patch_attr(patches, src, "batch", lambda f: tr.wrap("sources.bind", f))
        patch_attr(patches, src, "stream", lambda f: tr.wrap("sources.bind", f))
    return patches


def timed_file_sink(tracer):
    """FileSink whose writes are recorded as ``sinks.write`` spans; goes in
    through ``Pipeline.from_config(sink_overrides=...)``."""
    from gohangout_spark.sinks import FileSink

    class TimedFileSink(FileSink):
        def write_batch(self, df):
            with tracer.span("sinks.write"):
                return super().write_batch(df)

    return TimedFileSink


def pipeline_layer(ctx) -> dict:
    """Layer figures from the spans around pipeline calls."""
    tr = ctx.tracer
    transforms = max(1, len(tr.durations("pipeline.transform")))
    writes = tr.durations("sinks.write")
    return {
        "config.load_config_ms": 1000 * median(tr.durations("config.load_config")),
        "pipeline.from_config_ms": 1000 * median(tr.durations("pipeline.from_config")),
        "pipeline.transform_ms": 1000 * median(tr.durations("pipeline.transform")),
        "operators.plan_ms": 1000 * tr.total("operators.apply") / transforms,
        "expr.compile_ms": 1000 * tr.total("expr.compile_conditions") / transforms,
        "sources.bind_ms": 1000 * median(tr.durations("sources.bind")),
        "sinks.write_s": sum(writes),
        "sinks.calls": float(len(writes)),
        "sinks.write_ms_p50": 1000 * median(writes),
    }


def layer_from_log(ctx, ev) -> dict:
    """Per-layer metrics of a traced run: the event log's, those that join
    spans with it, and those the workload recorded; any the run did not
    produce read 0."""
    tasks = ev.task_intervals()
    out = {k: 0.0 for k in LAYER_UNITS}
    out.update(ev.layer_metrics())
    out["session.no_task_s"] = sum(uncovered(w, tasks) for w in ctx.tracer.intervals(MEASURED))
    out["session.get_spark_s"] = median(ctx.tracer.durations("session.get_spark"))
    out.update(ctx.layer)
    return {k: out[k] for k in LAYER_UNITS}


def _config_text(in_dir: str, out_dir: str, batch: bool) -> str:
    import weblog

    return yaml.safe_dump(weblog.pipeline_conf(in_dir, out_dir, batch), sort_keys=False)


def _setup_pipeline(ctx, text: str, streaming: bool):
    """One set-up: session up, config loaded, pipeline compiled and, for a
    batch, inputs bound (a stream binds them when its query starts)."""
    from gohangout_spark.config import load_config
    from gohangout_spark.pipeline import Pipeline

    spark = ctx.start_session()
    with ctx.tracer.span("config.load_config"):
        conf = load_config(text, is_text=True)
    overrides = {"File": timed_file_sink(ctx.tracer)} if ctx.trace else None
    with ctx.tracer.span("pipeline.from_config"):
        p = Pipeline.from_config(conf, sink_overrides=overrides)
    undo = instrument(ctx, p)
    if not streaming:
        ctx.describe("setup:bind")
        for src in p.sources:
            src.batch(spark)
    return p, undo


# ------------------------------------------------------------ weblog_batch
def _batch_input(ctx):
    """Input files for the seed, generated once and cached under a name
    that carries every generation parameter."""
    import weblog

    d = os.path.join(ctx.cache, f"weblog_batch-{ctx.seed}-{BATCH_FILES}x{BATCH_LINES_PER_FILE}")
    per = BATCH_LINES_PER_FILE
    led = weblog.Ledger()
    parts = []
    for k in range(BATCH_FILES):
        lines, part_led = weblog.gen_lines(
            ctx.seed,
            per,
            k * per,
            BATCH_EVENT_T0 + k * BATCH_EVENT_SPAN_S / BATCH_FILES,
            BATCH_EVENT_SPAN_S / BATCH_FILES,
            int(BATCH_EVENT_T0 * 1000),
        )
        led.merge(part_led)
        parts.append(lines)
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(d, exist_ok=True)
        for k, lines in enumerate(parts):
            with open(os.path.join(d, f"part-{k}.log"), "w") as f:
                f.write("\n".join(lines) + "\n")
        open(os.path.join(d, "_DONE"), "w").close()
    return d, led


def weblog_batch(ctx):
    import weblog

    in_dir, led = _batch_input(ctx)
    out_dir = ctx.fresh_dir("out")
    text = _config_text(in_dir, out_dir, batch=True)

    setups, patches = [], []
    for _ in range(SETUPS):
        undo_patches(patches)
        t0, cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
        p, patches = _setup_pipeline(ctx, text, streaming=False)
        setups.append((time.perf_counter() - t0, tree_cpu_s(os.getpid()) - cpu0))

    def one_pass(tag):
        """Wall and CPU seconds of one run_batch."""
        ctx.spark._jvm.System.gc()  # as bench.py: each pass starts from a collected heap
        ctx.describe(tag)
        with ctx.tracer.span(MEASURED):
            cpu, t = tree_cpu_s(os.getpid()), time.perf_counter()
            p.run_batch(ctx.spark)
            return time.perf_counter() - t, tree_cpu_s(os.getpid()) - cpu

    first, _ = one_pass("pass:cold")
    for k in range(WARMUP_PASSES):
        one_pass(f"pass:warmup{k}")
    threads0 = thread_cpu_s(os.getpid())
    passes, deadline = [], time.perf_counter() + ctx.seconds
    # no pass starts that would end past the deadline (at the last pass's pace)
    while len(passes) < MIN_WARM_PASSES or time.perf_counter() + passes[-1][0] < deadline:
        passes.append(one_pass(f"pass:warm{len(passes)}"))
    warm = [wall for wall, _ in passes]
    threads = thread_cpu_s(os.getpid())
    peak = peak_rss_bytes(os.getpid())
    undo_patches(patches)

    ctx.describe("check")
    chk = weblog.check_output(ctx.spark, out_dir, led, windows="all")
    ctx.checks = {**chk, "passes": 1 + WARMUP_PASSES + len(warm)}
    ctx.notes = {
        "warm_pass_s": warm,
        "cpu_pass_s": [cpu for _, cpu in passes],
        "cpu_by_thread_s": cpu_delta(threads0, threads),
        "setups_wall_cpu_s": setups,
        "lines": led.lines,
    }
    if ctx.trace:
        ctx.layer.update(pipeline_layer(ctx))
        ctx.layer["session.codegen_ms"] = codegen_ms(ctx.spark)
    failed = sum(v for k, v in chk.items() if k not in ("events_expected", "metric_rows_checked"))
    return {
        "e2e": {
            "setup_s": median(cpu for _, cpu in setups),
            "cpu_ms_per_line": 1000 * median(cpu for _, cpu in passes) / led.lines,
        },
        "recorded": {
            "setup_wall_s": median(wall for wall, _ in setups),
            "peak_rss_mb": peak / 2**20,
            "first_pass_s": first,
            "latency_p50_ms": 1000 * median(warm),
            "latency_p99_ms": 1000 * pct(warm, 99),
        },
        "attempted": chk["events_expected"] + chk["metric_rows_checked"] + len(led.error_ids),
        "failed": failed,
    }


# ----------------------------------------------------------- weblog_stream
def _read_log(path: str) -> list[dict]:
    """JSON entries of one streaming metadata-log file (after its version
    line)."""
    with open(path) as f:
        return [json.loads(line) for line in f if line.startswith("{")]


def _batches_of_files(ck: str) -> tuple[dict[str, int], dict[int, float]]:
    """From a file-stream checkpoint: input file name -> micro-batch id, and
    micro-batch id -> commit time (commit-log file mtime).

    The file source numbers its own log only when it finds new files, so a
    file's micro-batch is the first one whose offset (``logOffset`` in the
    offset log) reaches the file's source-log id."""
    commits: dict[int, float] = {}
    cdir = os.path.join(ck, "commits")
    if not os.path.isdir(cdir):
        return {}, commits
    for name in os.listdir(cdir):
        if name.isdigit():
            commits[int(name)] = os.stat(os.path.join(cdir, name)).st_mtime
    reached = []  # (source log offset, micro-batch id)
    odir = os.path.join(ck, "offsets")
    for name in os.listdir(odir):
        if name.isdigit():
            offs = [e["logOffset"] for e in _read_log(os.path.join(odir, name)) if "logOffset" in e]
            if offs:
                reached.append((offs[0], int(name)))
    reached.sort()
    file_batch: dict[str, int] = {}
    src_dir = os.path.join(ck, "sources", "0")
    for name in os.listdir(src_dir):
        if name.startswith("."):
            continue
        for e in _read_log(os.path.join(src_dir, name)):
            batch = next((b for off, b in reached if off >= e["batchId"]), None)
            if batch is not None:
                file_batch[os.path.basename(e["path"])] = batch
    return file_batch, commits


def stream_latency(files: list[dict], file_batch, commits, window) -> dict:
    """Per-event latency (commit time of the batch holding the event's file
    minus its creation stamp) for files due inside ``window``; files are
    ledger entries with ``name``, ``due``, ``kept`` and ``n``."""
    lo, hi = window
    lat, missing_files = [], 0
    lines_at = dict.fromkeys(commits.values(), 0)  # commit time -> lines it made visible
    for f in files:
        b = file_batch.get(f["name"])
        if b is None or b not in commits:
            if lo <= f["due"] < hi:
                missing_files += 1
            continue
        lines_at[commits[b]] = lines_at.get(commits[b], 0) + f["n"]
        if lo <= f["due"] < hi:
            lat.extend([(commits[b] - f["due"]) * 1000.0] * f["kept"])
    # delivery rate over whole micro-batches: lines of the commits after the
    # first one in the window, over the time since that first one
    inside = sorted(t for t in lines_at if lo <= t < hi)
    rate = 0.0
    if len(inside) > 1:
        rate = sum(lines_at[t] for t in inside[1:]) / (inside[-1] - inside[0])
    return {
        "p50_ms": pct(lat, 50),
        "p99_ms": pct(lat, 99),
        "events": len(lat),
        "lines_per_s": rate,
        "files_not_committed": missing_files,
    }


def backlog_growth(files: list[dict], file_batch, commits, window) -> float:
    """Growth rate (lines/s) of the backlog (lines moved in, not yet
    committed): the least-squares slope of the backlog just after each
    commit inside ``window``. Sampling at commits keeps a micro-batch's
    worth of lines from counting as growth."""

    def backlog(t):
        moved = sum(f["n"] for f in files if f["moved"] <= t)
        done = sum(
            f["n"] for f in files if file_batch.get(f["name"]) in commits and commits[file_batch[f["name"]]] <= t
        )
        return moved - done

    lo, hi = window
    pts = [(t, backlog(t)) for t in sorted(commits.values()) if lo <= t < hi]
    if len(pts) < 2:
        return 0.0
    mx = sum(t for t, _ in pts) / len(pts)
    my = sum(b for _, b in pts) / len(pts)
    return sum((t - mx) * (b - my) for t, b in pts) / sum((t - mx) ** 2 for t, _ in pts)


def weblog_stream(ctx):
    import loadgen
    import weblog

    per_file = int(STREAM_RATE * STREAM_TICK_S)
    # whole trigger intervals, so every run measures the same number of
    # micro-batches at the same arrival phases
    cycles = max(1, ctx.seconds // STREAM_TRIGGER_S)
    measured = STREAM_TRIGGER_S * cycles
    n_files = int(math.ceil((STREAM_WARMUP_S + measured) / STREAM_TICK_S))
    setups, patches, queries = [], [], []
    for i in range(SETUPS):
        for q in queries:
            q.stop()
        undo_patches(patches)
        in_dir = ctx.fresh_dir(f"in{i}")
        out_dir = ctx.fresh_dir(f"out{i}")
        ck = ctx.fresh_dir(f"ck{i}")
        if i == SETUPS - 1:
            # one file waits in the input before the measured query starts:
            # the backlog its first micro-batch picks up
            due0 = time.time()
            lines, led = loadgen.file_lines(ctx.seed, 0, per_file, 0, due0, STREAM_TICK_S)
            with open(os.path.join(in_dir, "part-seed.log"), "w") as f:
                f.write("\n".join(lines) + "\n")
        t0, cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
        p, patches = _setup_pipeline(ctx, _config_text(in_dir, out_dir, batch=False), streaming=True)
        ctx.describe("setup:start")
        started = time.time()
        queries = p.run_streaming(ctx.spark, trigger_seconds=STREAM_TRIGGER_S, checkpoint=ck)
        setups.append((time.perf_counter() - t0, tree_cpu_s(os.getpid()) - cpu0))
    (q,) = queries
    ck = os.path.join(ck, "q0")
    # the generator starts once the cold first micro-batch is committed, so
    # its backlog does not spill into the measured window
    deadline = time.time() + STREAM_DRAIN_S
    while not _batches_of_files(ck)[1]:
        if q.exception() is not None:
            raise q.exception()
        if time.time() > deadline:
            raise TimeoutError(f"no micro-batch committed within {STREAM_DRAIN_S} s")
        time.sleep(0.05)

    ctx.spark._jvm.System.gc()  # start the measurement from a collected heap
    ledger_path = os.path.join(ctx.run_dir, "ledger.jsonl")
    # Processing-time triggers fire at wall-clock multiples of the interval.
    # Starting the generator half a tick after one gives every run the same
    # arrival phase, so the wait for the next trigger is the same from run
    # to run; the second of lead time covers the generator's start-up.
    gen_start = (math.floor(time.time() / STREAM_TRIGGER_S) + 1) * STREAM_TRIGGER_S
    gen_start += STREAM_TICK_S / 2 + (STREAM_TRIGGER_S if gen_start - time.time() < 1.0 else 0)
    proc = subprocess.Popen(
        [
            sys.executable,
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py"),
            f"--seed={ctx.seed}",
            f"--rate={STREAM_RATE}",
            f"--tick={STREAM_TICK_S}",
            f"--start={gen_start}",
            f"--files={n_files}",
            f"--first-id={per_file}",
            f"--dir={in_dir}",
            f"--ledger={ledger_path}",
        ]
    )
    ctx.describe("stream")
    window = (gen_start + STREAM_WARMUP_S, gen_start + STREAM_WARMUP_S + measured)
    # CPU of each trigger interval in the window, read just before each
    # trigger fires (half a tick before the window's arrival phase), so a
    # micro-batch is not split between two intervals
    marks = [window[0] - STREAM_TICK_S + k * STREAM_TRIGGER_S for k in range(cycles + 1)]
    try:
        with ctx.tracer.span(MEASURED):
            cpu = []
            for t in marks:
                time.sleep(max(0.0, t - time.time()))
                cpu.append(tree_cpu_s(os.getpid(), skip=[proc.pid]))
                if len(cpu) == 1:
                    threads0 = thread_cpu_s(os.getpid(), skip=[proc.pid])
            cpu_periods = [b - a for a, b in zip(cpu, cpu[1:])]
            threads = thread_cpu_s(os.getpid(), skip=[proc.pid])
            proc.wait(timeout=STREAM_WARMUP_S + measured + 30)
        peak = peak_rss_bytes(os.getpid())
        deadline = time.time() + STREAM_DRAIN_S
        last = f"part-{n_files - 1:05d}.log"
        while time.time() < deadline:
            fb, commits = _batches_of_files(ck)
            if fb.get(last) in commits:
                break
            if q.exception() is not None:
                raise q.exception()
            time.sleep(0.2)
        progress = [json.loads(p_.json) for p_ in q.recentProgress]
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        q.stop()
    undo_patches(patches)

    file_batch, commits = _batches_of_files(ck)
    files = [{"name": "part-seed.log", "due": due0, "moved": due0, "n": per_file, "kept": len(led.kept_ids)}]
    with open(ledger_path) as f:
        for line in f:
            e = json.loads(line)
            _, part = loadgen.file_lines(ctx.seed, e["k"], per_file, per_file, e["due"], STREAM_TICK_S)
            led.merge(part)
            files.append({**e, "name": f"part-{e['k']:05d}.log", "kept": len(part.kept_ids)})
    lat = stream_latency(files, file_batch, commits, window)
    growth = backlog_growth(files, file_batch, commits, window)
    late_p99 = pct([(f["moved"] - f["due"]) * 1000.0 for f in files[1:]], 99)
    first_commit = min(commits.values()) if commits else float("inf")

    ctx.describe("check")
    chk = weblog.check_output(ctx.spark, out_dir, led, windows="emitted")
    invalid = int(late_p99 > LATE_LIMIT_MS) + int(growth > BACKLOG_LIMIT * STREAM_RATE)
    ctx.checks = {
        **chk,
        "files_not_committed": lat["files_not_committed"],
        "loadgen_late_ms_p99": late_p99,
        "backlog_growth_eps": growth,
        "invalid_run": invalid,
    }
    ctx.notes = {
        "setups_wall_cpu_s": setups,
        "cpu_periods_s": cpu_periods,
        "cpu_by_thread_s": cpu_delta(threads0, threads),
        "latency_events": lat["events"],
        "lines_per_s": lat["lines_per_s"],
        "batches": [
            (p_["batchId"], p_["numInputRows"], (p_.get("durationMs") or {}).get("triggerExecution"))
            for p_ in progress
        ],
    }
    if ctx.trace:
        ctx.layer.update(pipeline_layer(ctx))
        ctx.layer.update(progress_metrics(progress))
        ctx.layer["loadgen.late_ms_p99"] = late_p99
        ctx.layer["loadgen.backlog_growth_eps"] = growth
        ctx.layer["session.codegen_ms"] = codegen_ms(ctx.spark)
    if invalid:
        print("perfbench: invalid run: the generator fell behind or the backlog grew", file=sys.stderr)
    failed = (
        chk["events_missing"]
        + chk["events_duplicated"]
        + chk["events_unexpected"]
        + chk["error_rows_wrong"]
        + chk["metric_rows_wrong"]
        + lat["files_not_committed"]
    )
    return {
        "e2e": {
            "setup_s": median(cpu for _, cpu in setups),
            "cpu_ms_per_line": 1000 * median(cpu_periods) / (STREAM_RATE * STREAM_TRIGGER_S),
        },
        "recorded": {
            "setup_wall_s": median(wall for wall, _ in setups),
            "peak_rss_mb": peak / 2**20,
            "first_pass_s": first_commit - started,
            "latency_p50_ms": lat["p50_ms"],
            "latency_p99_ms": lat["p99_ms"],
        },
        "attempted": chk["events_expected"] + chk["metric_rows_checked"] + len(files),
        "failed": failed,
    }

