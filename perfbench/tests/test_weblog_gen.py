"""The generator is a pure function of its arguments, and its ledger says
what the chain keeps."""

import re

import weblog


def test_same_seed_same_lines():
    a, la = weblog.gen_lines(7, 2000, 0, 1_767_225_600.0, 3600, 0)
    b, lb = weblog.gen_lines(7, 2000, 0, 1_767_225_600.0, 3600, 0)
    assert a == b
    assert la.kept_ids == lb.kept_ids and la.windows == lb.windows


def test_other_seed_or_ids_other_lines():
    a, _ = weblog.gen_lines(7, 500, 0, 1_767_225_600.0, 3600, 0)
    b, _ = weblog.gen_lines(8, 500, 0, 1_767_225_600.0, 3600, 0)
    c, _ = weblog.gen_lines(7, 500, 500, 1_767_225_600.0, 3600, 0)
    assert a != b and a != c


def test_ledger_matches_the_lines():
    lines, led = weblog.gen_lines(3, 5000, 100, 1_767_225_600.0, 600, 42)
    grok = re.compile(weblog.GROK)
    parsed = [grok.match(line) for line in lines]
    malformed = sum(m is None for m in parsed)
    health = sum(1 for m in parsed if m and m["endpoint"] == weblog.HEALTH)
    assert 0.03 < malformed / len(lines) < 0.07
    assert 0.08 < health / len(lines) < 0.12
    kept = [int(m["eid"]) for m in parsed if m and m["endpoint"] != weblog.HEALTH]
    assert kept == led.kept_ids
    errors = [int(m["eid"]) for m in parsed if m and m["endpoint"] != weblog.HEALTH and "err=" in m["kv"]]
    assert errors == led.error_ids
    mapped = sum(1 for m in parsed if m and weblog.DICTIONARY.get(m["endpoint"]))
    assert sum(led.windows.values()) == mapped
    assert all(m["created_ms"] == "42" for m in parsed if m)
    assert led.lines == len(lines)


def test_late_events_stay_inside_the_watermark():
    assert weblog.LATE_MAX_S < weblog.RESERVE_WINDOW_S
