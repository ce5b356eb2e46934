"""Wave-14 invariants beyond the oracle parity gate:

- retraction_rollup: the retract identity — signed-delta maintenance must
  equal the snapshot recompute in EVERY segment (consistent = 1), and a
  Python replay of the upsert stream reproduces both legs.
- watermark_lateness_audit: drops are monotone non-increasing in the
  delay, non-vacuous at delay 0, and exactly zero at the flush width
  (lateness is bounded by the arrival model's flush).
- l_diversity_audit: class l-values recounted.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

from pyspark.sql import functions as F


def test_retraction_identity_and_python_replay(spark, sf):
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.core import (
        RETRACT_SEG_LOW_C,
        RETRACT_SEG_MID_C,
    )

    rows = e.queries()["retraction_rollup"](spark, sf).collect()
    assert rows
    for r in rows:
        assert r["consistent"] == 1, r
        assert r["users_maintained"] == r["users_snapshot"]
        assert r["cents_maintained"] == r["cents_snapshot"]
    ev = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    seg = lambda c: (  # noqa: E731
        "low" if c < RETRACT_SEG_LOW_C else ("mid" if c < RETRACT_SEG_MID_C else "high")
    )
    users = defaultdict(list)
    for r in ev:
        users[r["user_id"]].append((r["ts"], r["event_id"], int(r["value"] * 100 + 0.5)))
    n = Counter()
    cents = Counter()
    for seq in users.values():
        seq.sort()
        prev = None
        for _, _, v in seq:  # replay the signed maintenance
            if prev is not None:
                n[seg(prev)] -= 1
                cents[seg(prev)] -= prev
            n[seg(v)] += 1
            cents[seg(v)] += v
            prev = v
    got = {r["seg"]: (r["users_maintained"], r["cents_maintained"]) for r in rows}
    expect = {s: (n[s], cents[s]) for s in n if n[s] or cents[s]}
    assert got == expect


def test_watermark_lateness_curve(spark, sf):
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.sketches import LATE_FLUSH_S

    rows = sorted(
        e.queries()["watermark_lateness_audit"](spark, sf).collect(),
        key=lambda r: r["delay_s"],
    )
    drops = [r["dropped"] for r in rows]
    assert drops == sorted(drops, reverse=True), "drops must fall with delay"
    assert drops[0] > 0, "arrival model must produce real lateness"
    by_delay = {r["delay_s"]: r for r in rows}
    assert by_delay[LATE_FLUSH_S]["dropped"] == 0, (
        "lateness is bounded by the flush width"
    )
    for r in rows:
        assert 0 <= r["max_late_us"] <= LATE_FLUSH_S * 1_000_000


def test_l_diversity_recount(spark, sf):
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.experiment import L_DIV

    rows = {r["l_div"]: r for r in e.queries()["l_diversity_audit"](spark, sf).collect()}
    ev = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .filter(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(F.col("ts").cast("date").alias("d"), "value", "event_type")
        .collect()
    )
    classes = defaultdict(lambda: (0, set()))
    agg = {}
    for r in ev:
        key = (str(r["d"]), int(r["value"] // 25))
        size, types = classes[key]
        types.add(r["event_type"])
        classes[key] = (size + 1, types)
    hist = defaultdict(lambda: [0, 0, 0])
    for size, types in classes.values():
        h = hist[len(types)]
        h[0] += 1
        h[1] += size
        if len(types) < L_DIV:
            h[2] += size
    assert set(rows) == set(hist)
    for l, (nc, nr, sup) in hist.items():
        r = rows[l]
        assert (r["n_classes"], r["n_rows"], r["suppressed_rows"]) == (nc, nr, sup)
        assert r["fails_l"] == int(l < L_DIV)


def test_join_order_recommendation_decision_and_exactness(spark, sf):
    import __spark_entry__ as e

    rows = {
        r["join_order"]: r
        for r in e.queries()["join_order_recommendation"](spark, sf).collect()
    }
    assert set(rows) == {"customer_first", "lineitem_first"}
    cust = spark.read.parquet(os.path.join(sf, "customer.parquet"))
    orders = spark.read.parquet(os.path.join(sf, "orders.parquet")).filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderkey").isNotNull()
    )
    li = spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
    actual_co = orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey")), "o_custkey"
    ).count()
    actual_ol = li.join(
        orders.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey"
    ).count()
    assert rows["customer_first"]["actual_intermediate"] == actual_co
    assert rows["lineitem_first"]["actual_intermediate"] == actual_ol
    for r in rows.values():
        assert r["decision_correct"] == 1
        assert r["chosen_by_estimate"] == r["actually_cheaper"]


def test_byte_profile_matches_python_recount(spark, sf):
    import __spark_entry__ as e

    rows = {
        r["doc_id"]: r
        for r in e.queries()["multimodal_byte_profile"](spark, sf).collect()
    }
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet")).collect()
    assert len(rows) == len(docs)
    for d in docs[:50]:
        b = d["text"].encode("utf-8")
        r = rows[d["doc_id"]]
        assert r["n_bytes"] == len(b)
        assert r["distinct_bytes"] == len(set(b))
        cnt = Counter(b)
        top = min(cnt, key=lambda x: (-cnt[x], x))
        assert (r["top_byte"], r["top_byte_ct"]) == (top, cnt[top])
        assert r["repeat_pairs"] == sum(
            1 for i in range(len(b) - 1) if b[i] == b[i + 1]
        )


def test_t_closeness_matches_python_recount(spark, sf):
    from fractions import Fraction

    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.experiment import T_CLOSE_PPM

    rows = {r["tv_decile"]: r for r in e.queries()["t_closeness_audit"](spark, sf).collect()}
    ev = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .filter(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(F.col("ts").cast("date").alias("d"), "value", "event_type")
        .collect()
    )
    cls = Counter()
    glob = Counter()
    for r in ev:
        key = (str(r["d"]), int(r["value"] // 25))
        cls[(key, r["event_type"])] += 1
        glob[r["event_type"]] += 1
    n_tot = sum(glob.values())
    by_class = defaultdict(int)
    for (key, t), c in cls.items():
        by_class[key] += c
    hist = defaultdict(lambda: [0, 0, 0])
    for key, n_c in by_class.items():
        num = sum(
            abs(cls.get((key, t), 0) * n_tot - glob[t] * n_c) for t in glob
        )
        tv_ppm = num * 1_000_000 // (2 * n_c * n_tot)
        h = hist[tv_ppm // 100_000]
        h[0] += 1
        h[1] += n_c
        if tv_ppm > T_CLOSE_PPM:
            h[2] += n_c
    assert set(rows) == set(hist)
    for dec, (nc, nr, fr) in hist.items():
        r = rows[dec]
        assert (r["n_classes"], r["n_rows"], r["failing_rows"]) == (nc, nr, fr)


def test_ts_similarity_matches_dense_python_recount(spark, sf):
    """The sparse norm+dot decomposition must equal the DENSE squared
    euclidean distance over gap-filled daily curves — missing days are
    implicit zeros, and the decomposition may not change a single value."""
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.timeseries import (
        TS_SIM_K,
        TS_SIM_QUERIES,
    )

    rows = e.queries()["ts_similarity_topk"](spark, sf).collect()
    assert rows
    ev = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .filter(F.col("user_id").isNotNull())
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .collect()
    )
    days = sorted({r["d"] for r in ev})
    curves = defaultdict(lambda: Counter())
    for r in ev:
        curves[r["user_id"]][r["d"]] += 1
    users = sorted(curves)
    got = {(r["q_user"], r["rnk"]): (r["neighbor_user"], r["dist2"]) for r in rows}
    for q in range(TS_SIM_QUERIES):
        dists = sorted(
            (
                sum((curves[q][d] - curves[u][d]) ** 2 for d in days),
                u,
            )
            for u in users
            if u != q
        )
        for rnk, (dist2, u) in enumerate(dists[:TS_SIM_K], start=1):
            assert got[(q, rnk)] == (u, dist2), (q, rnk)
