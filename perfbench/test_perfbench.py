"""Tests of the benchmark's own parts: the seeded generator and the output
checks. No Spark session is needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

LOG = dict(rate=2000, backlog_s=2.0, live_s=8.0, tick_s=0.25)


def _log_bytes(seed: int) -> bytes:
    plan = gen.log_plan(seed, **LOG)
    files = plan["backlog"] + plan["live"] + [plan["flush"]]
    return "\n--\n".join("\n".join(f) for f in files).encode()


def _event_ts(line: str):
    """The event's ts, or None for an injected malformed line."""
    try:
        rec = json.loads(line)
    except json.JSONDecodeError:
        return None
    ts = rec.get("ts") if isinstance(rec, dict) else None
    return ts if isinstance(ts, int) else None


def _cdc_bytes(seed: int) -> bytes:
    return "\n--\n".join("\n".join(f) for f in gen.cdc_plan(seed, 3000, 1000)["files"]).encode()


def test_same_seed_same_bytes_other_seed_other_bytes():
    assert _log_bytes(3) == _log_bytes(3)
    assert _log_bytes(3) != _log_bytes(4)
    assert _cdc_bytes(3) == _cdc_bytes(3)
    assert _cdc_bytes(3) != _cdc_bytes(4)


def test_injected_shares_match_targets():
    plan = gen.log_plan(5, rate=4000, backlog_s=5.0, live_s=20.0, tick_s=0.25)
    man = plan["manifest"]
    lines = [ln for f in plan["backlog"] + plan["live"] for ln in f]
    assert sum(_event_ts(ln) is None for ln in lines) == man["malformed"]
    assert man["malformed"] / len(lines) == pytest.approx(gen.MALFORMED_SHARE, rel=0.1)
    assert man["late_flagged"] / man["events"] == pytest.approx(
        gen.OUT_OF_ORDER_SHARE, rel=0.1
    )
    assert man["lines"] == len(lines) + 1  # + the flush row


def test_out_of_order_stays_within_watermark():
    plan = gen.log_plan(6, **LOG)
    tick = LOG["tick_s"]
    files = plan["backlog"] + plan["live"]
    n_back = len(plan["backlog"])
    max_seen = None
    for k, f in enumerate(files):
        publish_s = (k - n_back + 1) * tick  # relative to the live start
        ts = [t for t in map(_event_ts, f) if t is not None]
        for t in ts:
            created_s = (t - gen.ANCHOR_MS) / 1000.0
            assert created_s <= publish_s + 1e-9  # never published early
            if max_seen is not None:
                assert max_seen - t < gen.WATERMARK_S * 1000  # never late
        max_seen = max([max_seen or 0] + ts)


def test_cdc_ts_strictly_increases_and_counts_match():
    plan = gen.cdc_plan(7, 3000, 1000)
    recs = [json.loads(ln) for f in plan["files"] for ln in f]
    ts = [r["ts"] for r in recs]
    assert all(b > a for a, b in zip(ts, ts[1:]))
    applied = [r for r in recs if r["database"] == gen.CDC_DB and "data" in r]
    assert len(applied) == plan["manifest"]["changes"] == sum(
        plan["manifest"]["file_changes"]
    )
    assert {r["database"] for r in recs} == {gen.CDC_DB, gen.NOISE_DB}
    types = {r["type"] for r in applied}
    assert types == {"bootstrap-insert", "insert", "update", "delete"}


def test_checker_rejects_a_dropped_window_row():
    rows = [("2024-03-01 10:00:00", "2024-03-01 10:00:10", "home_0", 5, 1.5),
            ("2024-03-01 10:00:00", "2024-03-01 10:00:10", "home_1", 2, 0.5)]
    assert checks.row_diff(rows, list(reversed(rows))) == 0
    assert checks.row_diff(rows, rows[:1]) == 1
    assert checks.row_diff(rows, rows + rows[:1]) == 1


def test_checker_rejects_a_stale_dim_row():
    latest = [("1", "sku 1 v2", 40), ("2", "sku 2 v0", 12)]
    stale = [("1", "sku 1 v1", 31), ("2", "sku 2 v0", 12)]
    assert checks.row_diff(latest, stale) == 2


def test_checker_rejects_uv_totals_and_lost_events():
    exp = {("2024-03-01", "home_0"): 3}
    rows = [{"d": "2024-03-01", "t": "home_0", "n": 2}, {"d": "2024-03-01", "t": "home_0", "n": 1}]
    key, val = (lambda r: (r["d"], r["t"])), (lambda r: r["n"])
    assert checks.total_diff(exp, rows, key, val) == 0
    assert checks.total_diff(exp, rows[:1], key, val) == 1
    assert checks.exactly_once([1, 2, 3], [3, 1, 2]) == (0, 0)
    assert checks.exactly_once([1, 2, 3], [1, 2, 2]) == (1, 1)


def test_benchmark_json_names_what_run_prints():
    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
