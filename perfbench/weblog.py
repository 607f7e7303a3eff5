"""Seeded gohangout-style weblog lines, their ledger, and the YAML chain the
weblog workloads run.

A line is ``<logtime> <user> <endpoint> <status> <request_time> <eid>
<created_ms> <kv>``. About 5% are malformed (the Grok match fails), about
10% hit ``/health`` (the Drop condition removes them), users and endpoints
are Zipf-skewed, and a small share of event times are late or out of
order, always within the metric's watermark so no kept event is dropped.
``created_ms`` is the creation stamp (when the line was due to reach the
program); the event time is separate so lateness does not distort latency.

The ledger says, for every line, whether the chain keeps it, which service
it maps to and whether it goes to the errors sink, so sink contents can be
checked exactly.
"""

from __future__ import annotations

import datetime as dt
import random

import numpy as np

# endpoint -> service (Translate dictionary); None: not in the dictionary
ENDPOINTS = [
    ("/api/cart/add", "commerce"),
    ("/api/cart/view", "commerce"),
    ("/api/checkout", "commerce"),
    ("/api/pay", "payments"),
    ("/api/refund", "payments"),
    ("/api/login", "auth"),
    ("/api/logout", "auth"),
    ("/api/token", "auth"),
    ("/api/search", "search"),
    ("/api/suggest", "search"),
    ("/api/item", "catalog"),
    ("/api/item/reviews", "catalog"),
    ("/api/feed", "feed"),
    ("/api/feed/more", "feed"),
    ("/static/app.js", "static"),
    ("/static/app.css", "static"),
    ("/api/legacy/export", None),
    ("/api/legacy/ping", None),
]
HEALTH = "/health"
DICTIONARY = {e: s for e, s in ENDPOINTS if s}
REGIONS = ["eu", "us", "ap", "sa"]
AGENTS = ["ios", "android", "web", "bot"]

MALFORMED_SHARE = 0.05
HEALTH_SHARE = 0.10
LATE_SHARE = 0.02
LATE_MAX_S = 4  # below the watermark delay, so no kept event is late-dropped
BATCH_WINDOW_S = 5
RESERVE_WINDOW_S = 10

GROK = (
    r"^(?P<logtime>\S+) (?P<user>\w+) (?P<endpoint>\S+) (?P<status>\d+) "
    r"(?P<request_time>[0-9.]+) (?P<eid>\d+) (?P<created_ms>\d+) (?P<kv>\S+)$"
)


def pipeline_conf(in_dir: str, out_dir: str, batch: bool) -> dict:
    """The weblog chain: Grok -> Date -> Convert -> KV -> Translate -> Drop
    -> LinkStatsMetric, into two parquet File sinks (one guarded by an
    ``if``). Batch passes overwrite their output; a stream appends.

    ``timestamp_field: event_time`` is set explicitly: with the default
    ``@timestamp`` a streaming LinkStatsMetric fails at ``withWatermark``
    (see tests/test_known_defects.py)."""
    mode = "overwrite" if batch else "append"
    return {
        "inputs": [{"File": {"path": in_dir, "format": "text", "codec": "plain"}}],
        "timestamp_field": "event_time",
        "filters": [
            {
                "Grok": {
                    "src": "message",
                    "match": [GROK],
                    "failTag": "_grokparsefailure",
                    "remove_fields": ["message"],
                }
            },
            {
                "Date": {
                    "src": "logtime",
                    "formats": ["RFC3339"],
                    "target": "event_time",
                    "remove_fields": ["logtime"],
                }
            },
            {
                "Convert": {
                    "fields": {
                        "status": {"to": "int"},
                        "eid": {"to": "int"},
                        "request_time": {"to": "float", "setto_if_fail": 0.0},
                    }
                }
            },
            {
                "KV": {
                    "src": "kv",
                    "field_split": "&",
                    "value_split": "=",
                    "include_keys": ["region", "ua", "err"],
                    "remove_fields": ["kv"],
                }
            },
            {"Translate": {"source": "endpoint", "target": "service", "dictionary": DICTIONARY}},
            {"Drop": {"if": [f'EQ(endpoint,"{HEALTH}") || !Exist(eid)']}},
            {
                "LinkStatsMetric": {
                    "fieldsLink": "service->request_time",
                    "timestamp": "event_time",
                    "batchWindow": BATCH_WINDOW_S,
                    "reserveWindow": RESERVE_WINDOW_S,
                    "accumulateMode": "separate",
                    "drop_original_event": False,
                }
            },
        ],
        "outputs": [
            {"File": {"path": f"{out_dir}/events", "format": "parquet", "mode": mode}},
            {
                "File": {
                    "path": f"{out_dir}/errors",
                    "format": "parquet",
                    "mode": mode,
                    "if": ["Exist(err)"],
                }
            },
        ],
    }


def _zipf_index(rng: np.random.Generator, n: int, size: int, a: float = 1.2) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return rng.choice(n, size=size, p=w / w.sum())


def rfc3339(ts: float) -> str:
    return dt.datetime.fromtimestamp(int(ts), dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


class Ledger:
    """What the chain must produce for the lines generated so far."""

    def __init__(self):
        self.kept_ids: list[int] = []
        self.error_ids: list[int] = []
        # (window_start_s, service) -> kept events counted by LinkStatsMetric
        self.windows: dict[tuple[int, str], int] = {}
        self.lines = 0

    def merge(self, other: "Ledger") -> None:
        self.kept_ids += other.kept_ids
        self.error_ids += other.error_ids
        for k, v in other.windows.items():
            self.windows[k] = self.windows.get(k, 0) + v
        self.lines += other.lines


def gen_lines(
    seed: int, n: int, first_id: int, event_t0: float, event_span_s: float, created_ms: int
) -> tuple[list[str], Ledger]:
    """``n`` lines with ids ``first_id..``, event times spread over
    ``event_span_s`` seconds from ``event_t0``; the same arguments give the
    same lines."""
    rng = np.random.default_rng([seed, first_id])
    pick = random.Random(f"{seed}/{first_id}")
    users = _zipf_index(rng, 2000, n)
    eps = _zipf_index(rng, len(ENDPOINTS), n, a=0.9)
    roll = rng.random(n)
    late = rng.random(n) < LATE_SHARE
    ev_t = event_t0 + np.sort(rng.random(n)) * event_span_s
    ev_t = np.where(late, ev_t - rng.random(n) * LATE_MAX_S, ev_t)
    status_roll = rng.random(n)
    req = np.round(rng.gamma(2.0, 0.05, n), 3)
    lines, led = [], Ledger()
    led.lines = n
    for i in range(n):
        eid = first_id + i
        t = float(ev_t[i])
        logtime = rfc3339(t)
        if roll[i] < MALFORMED_SHARE:
            lines.append(f"{logtime} ### truncated-{eid}")
            continue
        if roll[i] < MALFORMED_SHARE + HEALTH_SHARE:
            endpoint, service = HEALTH, None
        else:
            endpoint, service = ENDPOINTS[eps[i]]
        s = status_roll[i]
        status = 503 if s < 0.03 else 404 if s < 0.07 else 200
        kv = f"region={REGIONS[pick.randrange(4)]}&ua={AGENTS[pick.randrange(4)]}"
        if status >= 500:
            kv += "&err=upstream_timeout"
        lines.append(
            f"{logtime} u{users[i]:04d} {endpoint} {status} {req[i]:.3f} {eid} {created_ms} {kv}"
        )
        if endpoint == HEALTH:
            continue
        led.kept_ids.append(eid)
        if status >= 500:
            led.error_ids.append(eid)
        if service:
            key = (int(t) - int(t) % BATCH_WINDOW_S, service)
            led.windows[key] = led.windows.get(key, 0) + 1
    return lines, led


def check_output(spark, out_dir: str, led: Ledger, windows: str = "all") -> dict:
    """Compare both sinks with the ledger. Returns counts of missing and
    duplicated events, wrong error-sink rows and wrong metric rows.

    ``windows="all"``: every ledger window must be present with its exact
    count (batch). ``"emitted"``: only windows the stream has finalised are
    checked, each against its exact count (a stream emits a window once the
    watermark passes it)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{out_dir}/events")
    events = ev.where(F.col("window_start").isNull())
    got = {r["eid"]: r["n"] for r in events.groupBy("eid").agg(F.count("*").alias("n")).collect()}
    kept = set(led.kept_ids)
    missing = len(kept - got.keys())
    extra = len(got.keys() - kept)
    dup = sum(n - 1 for e, n in got.items() if n > 1)

    err = spark.read.parquet(f"{out_dir}/errors").where(F.col("window_start").isNull())
    err_got = {r["eid"]: r["n"] for r in err.groupBy("eid").agg(F.count("*").alias("n")).collect()}
    err_exp = set(led.error_ids)
    err_wrong = len(err_exp ^ err_got.keys()) + sum(n - 1 for n in err_got.values() if n > 1)

    metric_rows = ev.where(F.col("window_start").isNotNull()).select(
        F.unix_timestamp("window_start").alias("w"), "service", "count"
    )
    emitted: dict[tuple[int, str], int] = {}
    metric_dup = 0
    for r in metric_rows.collect():
        key = (int(r["w"]), r["service"])
        if key in emitted:
            metric_dup += 1
        emitted[key] = emitted.get(key, 0) + int(r["count"])
    expected = led.windows if windows == "all" else {k: v for k, v in led.windows.items() if k in emitted}
    metric_wrong = metric_dup + sum(1 for k, v in expected.items() if emitted.get(k) != v)
    metric_wrong += sum(1 for k in emitted if k not in led.windows)
    return {
        "events_expected": len(kept),
        "events_missing": missing,
        "events_duplicated": dup,
        "events_unexpected": extra,
        "error_rows_wrong": err_wrong,
        "metric_rows_checked": len(expected),
        "metric_rows_wrong": metric_wrong,
    }
