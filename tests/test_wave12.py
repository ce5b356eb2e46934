"""Wave-12 invariants beyond the oracle parity gate:

- entity_match_parts: the two-key blocking must be LOSSLESS for the match
  rule — a brute-force O(n^2) Python recount of matching pairs per noun
  must equal the blocked pipeline's matched_pairs.
- entity_golden_record: survivor election and consolidation recounted.
- late_dim_reattribution: the full stale-vs-final attribution recounted
  event by event in Python (as-of semantics, last-update-dropped stale
  dim, 'none' before any version).
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

from pyspark.sql import functions as F


def _parts(spark, sf):
    return [
        (
            r["p_partkey"],
            r["p_name"].split(" ")[0],
            r["p_name"].split(" ")[-1],
            r["p_name"],
            r["p_brand"],
            r["p_size"],
            r["p_retailprice"],
        )
        for r in spark.read.parquet(os.path.join(sf, "part.parquet")).collect()
        if r["p_name"] is not None and r["p_size"] is not None
    ]


def test_entity_blocking_is_lossless_vs_bruteforce(spark, sf):
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.entity import ENT_SIZE_DIFF

    rows = {
        r["noun"]: r
        for r in e.queries()["entity_match_parts"](spark, sf).collect()
    }
    by_noun = defaultdict(list)
    for k, adj, noun, _, brand, size, _ in _parts(spark, sf):
        by_noun[noun].append((k, adj, brand, size))
    for noun, items in by_noun.items():
        brute = sum(
            1
            for i, (k1, a1, b1, s1) in enumerate(items)
            for k2, a2, b2, s2 in items[i + 1 :]
            if abs(s1 - s2) <= ENT_SIZE_DIFF and (a1 == a2 or b1 == b2)
        )
        assert rows[noun]["matched_pairs"] == brute, (noun, brute, rows[noun])
        assert rows[noun]["n_parts"] == len(items)
        assert rows[noun]["cand_pairs"] >= rows[noun]["matched_pairs"]


def test_golden_record_survivorship_recount(spark, sf):
    import __spark_entry__ as e

    rows = {
        r["p_name"]: r
        for r in e.queries()["entity_golden_record"](spark, sf).collect()
    }
    by_name = defaultdict(list)
    for k, _, _, name, brand, size, price in _parts(spark, sf):
        by_name[name].append((k, brand, size, price))
    dups = {n: v for n, v in by_name.items() if len(v) >= 2}
    assert set(rows) == set(dups)
    for name, members in dups.items():
        r = rows[name]
        assert r["n_members"] == len(members)
        assert r["survivor_key"] == min(k for k, *_ in members)
        assert r["n_brands"] == len({b for _, b, _, _ in members})
        bc = Counter(b for _, b, _, _ in members)
        top = min(
            (b for b in bc), key=lambda b: (-bc[b], b)
        )
        assert r["top_brand"] == top
        assert r["size_min"] == min(s for _, _, s, _ in members)
        assert r["size_max"] == max(s for _, _, s, _ in members)


def test_late_dim_reattribution_matches_python_replay(spark, sf):
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.timeseries import (
        SEG_LOW_C,
        SEG_MID_C,
    )

    ev = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .collect()
    )
    upd = defaultdict(dict)  # user -> {ts: (event_id, seg)} last event_id wins
    for r in ev:
        if r["event_type"] != "purchase":
            continue
        v_c = int(r["value"] * 100 + 0.5)
        seg = "low" if v_c < SEG_LOW_C else ("mid" if v_c < SEG_MID_C else "high")
        cur = upd[r["user_id"]].get(r["ts"])
        if cur is None or r["event_id"] > cur[0]:
            upd[r["user_id"]][r["ts"]] = (r["event_id"], seg)

    def attr(user, ts, drop_last):
        vers = sorted(upd.get(user, {}).items())
        if drop_last and vers:
            vers = vers[:-1]
        seg = "none"
        for t, (_, s) in vers:
            if t <= ts:
                seg = s
        return seg

    matrix = Counter()
    for r in ev:
        if r["event_type"] != "view":
            continue
        matrix[
            (attr(r["user_id"], r["ts"], True), attr(r["user_id"], r["ts"], False))
        ] += 1
    rows = e.queries()["late_dim_reattribution"](spark, sf).collect()
    got = {(r["seg_stale"], r["seg_final"]): r["n_events"] for r in rows}
    assert got == dict(matrix)
    for r in rows:
        assert r["reattributed"] == int(r["seg_stale"] != r["seg_final"])
