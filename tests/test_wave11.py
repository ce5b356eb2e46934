"""Wave-11 invariants beyond the oracle parity gate:

- kmv_audience_intersection: exact overlaps must equal a pure-Python
  recount of distinct-user intersections; the retained-common count is
  bounded by the sketch size; and when BOTH sketches are unsaturated
  (theta = full domain) the estimate must equal the exact overlap — the
  degenerate-exactness property of theta sketches.
- file_skipping_audit: pruning must be COMPLETE (scanned rows cover every
  matching row — a skip decision may never lose results), and a point
  lookup on the range-clustered layout must touch exactly one file.
- deletion_impact_audit: per-table deleted counts must equal direct
  filter/join recounts, including the lineitem referential cascade.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_kmv_intersection_exact_matches_recount_and_bounds(spark, sf):
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.sketches import KMV_INTER_K

    rows = e.queries()["kmv_audience_intersection"](spark, sf).collect()
    assert rows
    ev = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
        .collect()
    )
    aud: dict[str, set] = {}
    for r in ev:
        aud.setdefault(r["event_type"], set()).add(r["user_id"])
    for r in rows:
        expect = len(aud[r["type_a"]] & aud[r["type_b"]])
        assert r["exact_overlap"] == expect, r
        assert 0 <= r["d_below"] <= KMV_INTER_K
        assert r["est_overlap"] >= 0
        if (
            len(aud[r["type_a"]]) < KMV_INTER_K
            and len(aud[r["type_b"]]) < KMV_INTER_K
        ):
            assert r["est_overlap"] == r["exact_overlap"], r


def test_file_skipping_is_complete_and_clustered_points_touch_one_file(
    spark, sf
):
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.sketches import SKIP_PREDS

    rows = e.queries()["file_skipping_audit"](spark, sf).collect()
    assert {r["layout"] for r in rows} == {"natural", "clustered"}
    ev = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
        .collect()
    )
    uids = [r["user_id"] for r in ev]
    matches = {
        pid: sum(1 for u in uids if lo <= u <= hi) for pid, lo, hi in SKIP_PREDS
    }
    for r in rows:
        assert r["files_scanned"] <= r["files_total"]
        # completeness: a pruned file contains NO matching row, so the
        # scanned-row total must cover every actual match
        assert r["rows_scanned"] >= matches[r["pred_id"]], r
        if r["layout"] == "clustered" and r["lo"] == r["hi"]:
            # a point lookup hits at most the one bucket owning the key
            assert r["files_scanned"] <= 1, r
            if matches[r["pred_id"]] > 0:
                assert r["files_scanned"] == 1, r


def test_deletion_impact_matches_direct_recount(spark, sf):
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.extras import TOMBSTONE_MOD

    rows = {
        r["table_name"]: r
        for r in e.queries()["deletion_impact_audit"](spark, sf).collect()
    }
    assert set(rows) == {"customer", "orders", "lineitem", "events"}
    rd = lambda t: spark.read.parquet(os.path.join(sf, f"{t}.parquet"))  # noqa: E731
    cust = rd("customer")
    orders = rd("orders")
    li = rd("lineitem")
    events = rd("events")
    assert rows["customer"]["rows_deleted"] == cust.filter(
        F.expr(f"c_custkey % {TOMBSTONE_MOD} = 0")
    ).count()
    del_orders = orders.filter(F.expr(f"o_custkey % {TOMBSTONE_MOD} = 0"))
    assert rows["orders"]["rows_deleted"] == del_orders.count()
    assert rows["lineitem"]["rows_deleted"] == li.join(
        del_orders.select(F.col("o_orderkey").alias("l_orderkey")),
        "l_orderkey",
        "left_semi",
    ).count()
    assert rows["events"]["rows_deleted"] == events.filter(
        F.expr(f"user_id % {TOMBSTONE_MOD} = 0")
    ).count()
    for r in rows.values():
        assert r["rows_total"] >= r["rows_deleted"] >= 0
