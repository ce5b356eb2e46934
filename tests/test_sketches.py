"""Wave-9 sketch/index invariants beyond the oracle parity gate:

- KMV's rank<=K must compile to WindowGroupLimit (the partial top-K that
  makes the sketch's shuffle K rows per partition, not the full hash set).
- The Bloom screen must never produce a false negative (the property the
  exact-join excusal depends on) and must probe through broadcast joins
  (the bit table is the small side by construction).
- The KMV rolling merge must equal the direct sketch of the full window —
  the merge-validity theorem (K smallest of a union are contained in the
  union of per-set K smallest) checked numerically, not just argued.
- Positional phrase counts must equal a per-doc Python recount.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import explain_text as _plan


def test_kmv_daily_uses_window_group_limit(spark, sf):
    import __spark_entry__ as e

    plan = _plan(e.queries()["kmv_distinct_daily"](spark, sf))
    assert "WindowGroupLimit" in plan


def test_bloom_no_false_negatives_and_broadcast_probe(spark, sf):
    import __spark_entry__ as e

    df = e.queries()["bloom_prefilter_audit"](spark, sf)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, "bit/eval tables must broadcast"
    row = df.collect()[0]
    assert row["false_neg"] == 0
    assert row["candidates"] == row["true_pos"] + row["false_pos"]


def test_kmv_rolling_merge_equals_direct_window_sketch(spark, sf):
    """Merged daily sketches must yield the SAME estimate as a direct KMV
    over each window's full hash set."""
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.sketches import (
        KMV_K,
        ROLL_DAYS,
        _daily_hashes,
        _kmv_estimate,
    )

    merged = {
        r["w_end"]: r["kmv_users_7d"]
        for r in e.queries()["kmv_rolling_distinct"](spark, sf).collect()
    }
    dh = _daily_hashes(spark, sf)
    off = F.explode(F.sequence(F.lit(0), F.lit(ROLL_DAYS - 1))).alias("off")
    full = (
        dh.select("d", "h", off)
        .select(F.expr("date_add(d, off)").alias("w_end"), "h")
        .distinct()
    )
    ww = Window.partitionBy("w_end").orderBy("h")
    direct = (
        full.withColumn("rn", F.row_number().over(ww))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("w_end")
        .agg(F.max("h").alias("h_k"), F.count(F.lit(1)).alias("n_in"))
        .select("w_end", _kmv_estimate("h_k", "n_in").alias("est"))
    )
    direct_map = {r["w_end"].isoformat(): r["est"] for r in direct.collect()}
    assert merged, "no rolling windows emitted"
    for w_end, est in merged.items():
        assert direct_map[w_end] == est, (w_end, direct_map[w_end], est)


def test_phrase_occurrences_match_python_recount(spark, sf):
    import __spark_entry__ as e

    rows = e.queries()["phrase_search_positional"](spark, sf).collect()
    assert rows
    doc_ids = sorted({r["doc_id"] for r in rows})
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(os.path.join(sf, "documents.parquet"))
        .filter(F.col("doc_id").isin(doc_ids))
        .collect()
    }
    for r in rows:
        toks = [t for t in docs[r["doc_id"]].split(" ") if t]
        ph = r["phrase"].split(" ")
        n = sum(
            1
            for i in range(len(toks) - len(ph) + 1)
            if toks[i : i + len(ph)] == ph
        )
        assert n == r["occurrences"], (r, n)


def test_skew_audit_strategies_cover_thresholds(spark, sf):
    import __spark_entry__ as e

    rows = {r["key_col"]: r for r in e.queries()["shuffle_skew_audit"](spark, sf).collect()}
    assert set(rows) == {"user_id", "event_type", "day"}
    for r in rows.values():
        assert r["n_rows"] >= r["distinct_keys"] >= 1
        assert r["max_key_rows"] * r["distinct_keys"] >= r["n_rows"]
        assert r["strategy"] in ("broadcast", "salt", "hash")


def test_streaming_kmv_twin_equals_batch_sketch(spark, sf):
    """The streaming K-min state (merged across user-sliced micro-batches)
    must reach the IDENTICAL sketch — same h_k, same n_in, hence the same
    estimate — as the batch kmv_distinct_daily over the same events: the
    mergeability theorem executed through real keyed streaming state."""
    import __spark_entry__ as e

    batch = {
        r["d"]: (r["exact_users"], r["kmv_users"], r["err_ppm"])
        for r in e.queries()["kmv_distinct_daily"](spark, sf).collect()
    }
    stream = {
        r["d"]: (r["exact_users"], r["kmv_users"], r["err_ppm"])
        for r in e.queries()["streaming_kmv_daily"](spark, sf).collect()
    }
    assert batch and stream == batch


def test_cms_never_undercounts_and_matches_python_sketch(spark, sf):
    """CMS structural guarantee (est >= exact, always) plus a full pure-
    Python rebuild of the sketch: same salted hashes, same cells, same
    min-over-depths estimates — the audit's aggregate numbers recomputed
    from scratch."""
    import hashlib
    from collections import Counter

    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        _CMS_E_MILLI,
    )

    row = e.queries()["cms_frequency_audit"](spark, sf).collect()[0]
    assert row["undercounts"] == 0
    ev = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
        .collect()
    )
    ct = Counter(r["user_id"] for r in ev)
    cells = Counter()
    pos = {}
    for u, c in ct.items():
        for d in range(1, CMS_DEPTH + 1):
            p = int(hashlib.md5(f"{d}#{u}".encode()).hexdigest()[:15], 16) % CMS_WIDTH
            pos[(u, d)] = p
            cells[(d, p)] += c
    n = sum(ct.values())
    bound = (n * _CMS_E_MILLI + CMS_WIDTH * 1000 - 1) // (CMS_WIDTH * 1000)
    overs = {
        u: min(cells[(d, pos[(u, d)])] for d in range(1, CMS_DEPTH + 1)) - c
    for u, c in ct.items()}
    assert row["probes"] == len(ct)
    assert row["n_events"] == n
    assert row["max_over"] == max(overs.values())
    assert row["avg_over_ppm"] == sum(overs.values()) * 1_000_000 // n
    assert row["within_bound"] == sum(1 for o in overs.values() if o <= bound)
    assert row["bound_e_n_over_w"] == bound


def test_topk_merge_audit_recall_recount(spark, sf):
    from collections import Counter, defaultdict

    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.sketches import TOPK_MERGE_K

    row = e.queries()["topk_merge_audit"](spark, sf).collect()[0]
    ev = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .filter(F.col("user_id").isNotNull())
        .select(F.col("ts").cast("date").alias("d"), "user_id")
        .collect()
    )
    daily = defaultdict(Counter)
    total = Counter()
    for r in ev:
        daily[r["d"]][r["user_id"]] += 1
        total[r["user_id"]] += 1
    cand = set()
    for cnts in daily.values():
        top = sorted(cnts.items(), key=lambda kv: (-kv[1], kv[0]))[:TOPK_MERGE_K]
        cand |= {u for u, _ in top}
    exact = [
        u for u, _ in sorted(total.items(), key=lambda kv: (-kv[1], kv[0]))[
            :TOPK_MERGE_K
        ]
    ]
    found = sum(1 for u in exact if u in cand)
    assert row["n_days"] == len(daily)
    assert row["n_candidates"] == len(cand)
    assert row["topk_found"] == found
    assert row["recall_ppm"] == found * 1_000_000 // TOPK_MERGE_K
    missed = [i + 1 for i, u in enumerate(exact) if u not in cand]
    assert row["best_missed_rank"] == (min(missed) if missed else 0)


def test_streaming_kmv_checkpoint_resume_is_exactly_once(spark, sf, tmp_path):
    """W7 for KEYED CUSTOM STATE: stop after the first availableNow run
    (only part of the data visible), then resume from the SAME checkpoint
    with the rest + the flush — the final sketches must equal the batch
    KMV over all data, proving the state store carried the K-min sets
    across a restart without double-folding the first slice."""
    import time as _time

    from pyspark.sql import functions as F

    from realtimedatawarehouse_self_spark.plans.sketches import (
        KMV_K,
        _daily_hashes,
        _kmv_estimate,
    )
    from realtimedatawarehouse_self_spark.streaming.stateful import kmv_kmin

    src, out, cp = (str(tmp_path / d) for d in ("src", "out", "cp"))
    os.makedirs(src)
    dh = _daily_hashes(spark, sf).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"), "h"
    )
    t0 = _time.time()

    def write(i, df):
        p = os.path.join(src, f"g{i:04d}")
        df.coalesce(1).write.parquet(p)
        for fn in os.listdir(p):
            os.utime(os.path.join(p, fn), (t0 + i * 10, t0 + i * 10))

    def run():
        q = (
            kmv_kmin(
                spark.readStream.schema("day string, h bigint, flush int")
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(src, "*")),
                k=KMV_K,
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    half = dh.filter(F.col("h") % 2 == 0)
    rest = dh.filter(F.col("h") % 2 == 1)
    write(0, half.select("day", "h", F.lit(0).cast("int").alias("flush")))
    run()  # first run: state persisted in cp, nothing emitted (no flush)
    write(1, rest.select("day", "h", F.lit(0).cast("int").alias("flush")))
    write(
        2,
        dh.select("day").distinct().select(
            "day",
            F.lit(0).cast("bigint").alias("h"),
            F.lit(1).cast("int").alias("flush"),
        ),
    )
    run()  # resume: folds the rest, flush emits final sketches
    got = {
        r["day"]: (r["h_k"], r["n_in"])
        for r in spark.read.parquet(out).collect()
    }
    expect_df = (
        dh.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("day")
                .orderBy("h")
            ),
        )
        .filter(F.col("rn") <= KMV_K)
        .groupBy("day")
        .agg(F.max("h").alias("h_k"), F.count(F.lit(1)).alias("n_in"))
    )
    expect = {r["day"]: (r["h_k"], r["n_in"]) for r in expect_df.collect()}
    assert got == expect


def test_quantile_rolling_merge_bound_and_merge_exactness(spark, sf):
    """err must sit in (0, BIN_CENTS] for every window (the histogram's
    deterministic bound survives the merge untouched), and the merged
    daily histograms must answer the SAME quantile as a direct histogram
    over each window's raw rows — histogram merge is exact (bins add)."""
    from collections import Counter, defaultdict

    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.state_ops import (
        BIN_CENTS,
        PCTS,
        QRM_DAYS,
    )

    rows = e.queries()["quantile_rolling_merge"](spark, sf).collect()
    assert rows
    for r in rows:
        assert 0 < r["err_cents"] <= BIN_CENTS, r
    ev = spark.read.parquet(os.path.join(sf, "events.parquet")).collect()
    by_day = defaultdict(list)
    for r in ev:
        by_day[r["ts"].date()].append(int(r["value"] * 100 + 0.5))
    days = sorted(by_day)
    got = {(r["w_end"], r["pct"]): r["sketch_upper_cents"] for r in rows}
    for w_end_day in days:
        if (w_end_day - days[0]).days < QRM_DAYS - 1:
            continue
        window = []
        for i in range(QRM_DAYS):
            window += by_day.get(
                w_end_day - __import__("datetime").timedelta(days=i), []
            )
        hist = Counter(c // BIN_CENTS for c in window)
        n = len(window)
        for p in PCTS:
            k = (p * n + 99) // 100
            cum = 0
            for b in sorted(hist):
                cum += hist[b]
                if cum >= k:
                    assert got[(w_end_day.isoformat(), p)] == (b + 1) * BIN_CENTS
                    break
