"""Physical-layout behavior (partition pruning, bucketed shuffle-free joins)
and plan-shape regression tests enforcing the PLANS.md invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import explain_text as _plan


def test_date_partition_pruning(spark, tmp_path):
    from realtimedatawarehouse_self_spark.sources.layout import (
        read_partitioned,
        write_date_partitioned,
    )
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1 + (i % 3)), float(i)) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, v double")
    path = str(tmp_path / "fact")
    write_date_partitioned(df, path)

    scan = read_partitioned(spark, path).filter(F.col("dt") == "2024-01-02")
    plan = _plan(scan)
    assert "PartitionFilters" in plan and "2024-01-02" in plan
    assert scan.count() == 10  # only the matching partition's rows


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    from realtimedatawarehouse_self_spark.sources.layout import write_bucketed

    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("lv")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("rv")
    )
    write_bucketed(left, "t_left_bkt", "k", 8)
    write_bucketed(right, "t_right_bkt", "k", 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_left_bkt").join(spark.table("t_right_bkt"), "k")
        plan = _plan(j)
        # co-bucketed join: sort-merge with NO exchange on either side
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == 1000
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS t_left_bkt")
        spark.sql("DROP TABLE IF EXISTS t_right_bkt")


# ---------------------------------------------------------------------------
# Plan-shape regression: the invariants PLANS.md documents must hold.
# ---------------------------------------------------------------------------
def test_q3_pushdown_and_broadcast(spark, sf):
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_q3_shipping_priority"](spark, sf))
    assert "PushedFilters: [IsNotNull(c_mktsegment)" in plan or "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dim_routing_single_broadcast_no_shuffle(spark, sf):
    import __spark_entry__ as e

    plan = _plan(e.queries()["dim_config_routing"](spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_band_explode_single_pipeline(spark, sf):
    import __spark_entry__ as e

    plan = _plan(e.queries()["dedup_minhash_lsh"](spark, sf))
    # band fan-out must be explode (Generate), not per-band re-aggregation
    assert "SortAggregate" not in plan
    assert plan.count("Scan parquet") <= 6


def test_topk_uses_window_group_limit(spark, sf):
    import __spark_entry__ as e

    plan = _plan(e.queries()["top_users_by_event_type"](spark, sf))
    assert "WindowGroupLimit" in plan


# Queries that INTENTIONALLY exercise the Arrow-batched Python path.
# Derived from plans/python_path.py's registry so a new Arrow-path operator
# cannot drift out of this allowlist (multimodal_resize did exactly that in
# r7 when the set was hand-maintained), plus the two named exceptions that
# live outside that module but quarantine their Python stage by design.
def _python_path_queries():
    from realtimedatawarehouse_self_spark.plans import python_path

    return set(python_path.QUERIES) | {
        # Arrow-batched tokenizer UDTF (functions/text.py)
        "keyword_page_view_udf",
        # bounded-memory Misra-Gries sketch stage (plans/mining.py): the
        # MapInPandas node holds k counters per partition and emits
        # candidate ids only; the exact recount that determines the
        # ANSWER is JVM-side.
        "heavy_hitter_users",
        # composed crawl->train funnel (plans/corpus_ops.py): stage 01 IS
        # python_path's html_text_extraction (the quarantined Arrow
        # extraction pass); every other stage is JVM-side.
        "crawl_to_train_funnel",
    }


PYTHON_PATH_QUERIES = _python_path_queries()


def test_no_python_udf_in_oracle_queries(registry_builds):
    """Every oracle-gated query stays JVM-side (no BatchEvalPython /
    ArrowEvalPython / MapInPandas in any plan) except the explicitly
    Arrow-batched python_path module. Plans come from the session's one
    sf0.001 build pass (`registry_builds` in conftest)."""
    for name, build in registry_builds.items():
        if name.startswith("streaming_") or name in PYTHON_PATH_QUERIES:
            continue  # eager-executing / intentionally-Python queries
        plan = build.plan
        assert "EvalPython" not in plan and "InPandas" not in plan, name


def test_compact_parquet_small_files(spark, tmp_path):
    """Streaming sinks leave KB-scale files; compaction rewrites them into
    ~target-size files without a row-count pre-pass, preserving content."""
    from realtimedatawarehouse_self_spark.sources.tables import compact_parquet

    src = str(tmp_path / "frag")
    # 40 tiny files
    spark.range(0, 4000).withColumn("v", F.col("id") * 2).repartition(
        40
    ).write.parquet(src)
    import os as _os

    n_src = sum(
        1 for f in _os.listdir(src) if f.endswith(".parquet")
    )
    assert n_src >= 30
    dest = str(tmp_path / "compact")
    n_out = compact_parquet(spark, src, dest, target_file_bytes=256 * 1024)
    assert n_out < n_src
    a = spark.read.parquet(src).orderBy("id").collect()
    b = spark.read.parquet(dest).orderBy("id").collect()
    assert a == b


def test_missing_sf_dir_raises_clear_error(spark):
    """Driver probe: a bad sf_dir must fail fast with PATH_NOT_FOUND, not
    produce an empty result."""
    import pytest
    from pyspark.errors import AnalysisException

    import __spark_entry__ as e

    with pytest.raises(AnalysisException):
        e.queries()["tpch_q1_pricing_summary"](
            spark, "/root/testdata/sf_does_not_exist"
        ).collect()


def test_export_clustered_layout(spark, tmp_path):
    """Clustered export: one file per hash bucket, rows sorted within each
    file (tight parquet min/max stats for row-group skipping)."""
    import pyarrow.parquet as pq

    from realtimedatawarehouse_self_spark.sources.tables import export_clustered

    df = spark.range(0, 10000).selectExpr(
        "id % 16 AS user_id", "id AS ts", "id * 2 AS v"
    )
    path = str(tmp_path / "clustered")
    export_clustered(df, path, "user_id", ["user_id", "ts"], n_files=4)
    import os as _os

    files = [
        _os.path.join(path, f)
        for f in _os.listdir(path)
        if f.endswith(".parquet")
    ]
    assert len(files) == 4
    total = 0
    for f in files:
        t = pq.read_table(f).to_pandas()
        total += len(t)
        # sorted within file -> (user_id, ts) is monotone non-decreasing
        key = list(zip(t["user_id"], t["ts"]))
        assert key == sorted(key)
        # hash-clustered -> a key's rows never straddle files
    seen = {}
    for f in files:
        for u in set(pq.read_table(f).to_pandas()["user_id"]):
            assert seen.setdefault(u, f) == f, "key straddles files"
    assert total == 10000


def test_export_zordered_prunes_both_dimensions(spark, tmp_path):
    """Z-order layout: row-group min/max stats must prune point predicates
    on the FIRST dimension strictly better than a time-sorted layout,
    while keeping meaningful pruning on the second — the measurable claim
    behind multi-dimension clustering."""
    import pyarrow.parquet as pq

    from realtimedatawarehouse_self_spark.sources.layout import (
        export_zordered,
    )

    # 64k rows: 256 users x 256 time buckets — EQUAL 8-bit domains (the
    # z-order prerequisite; see export_zordered docstring).
    df = spark.range(0, 65536).selectExpr(
        "CAST(id % 256 AS BIGINT) AS user_id",
        "CAST(id DIV 256 AS BIGINT) AS tb",
    )
    zpath = str(tmp_path / "zorder")
    tpath = str(tmp_path / "tsorted")
    export_zordered(
        df, zpath, "user_id", "tb", n_files=4, bits=8, block_bytes=64 * 1024
    )
    (
        df.repartitionByRange(4, "tb")
        .sortWithinPartitions("tb")
        .write.mode("overwrite")
        .option("parquet.block.size", 64 * 1024)
        .parquet(tpath)
    )

    def rg_stats(path, col):
        import os as _os

        out = []
        for f in _os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(_os.path.join(path, f)).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col:
                        st = c.statistics
                        out.append((st.min, st.max))
        return out

    def skipped(stats, probes):
        return sum(
            sum(1 for lo, hi in stats if not (lo <= p <= hi))
            for p in probes
        ) / (len(probes) * len(stats))

    user_probes = list(range(0, 256, 17))
    z_u = skipped(rg_stats(zpath, "user_id"), user_probes)
    t_u = skipped(rg_stats(tpath, "user_id"), user_probes)
    # time-sorted row groups mostly span the full user domain (partial
    # tail groups give it a sliver of accidental pruning); z-order must
    # skip a solid majority for user point predicates and beat the
    # time-sorted layout by a wide margin
    assert z_u >= 0.5, f"z-order user pruning too weak: {z_u}"
    assert z_u >= t_u + 0.3, f"no z-order advantage: z={z_u} t-sorted={t_u}"
    # and still skip most row groups for time point probes
    t_probes = list(range(0, 256, 17))
    z_t = skipped(rg_stats(zpath, "tb"), t_probes)
    assert z_t >= 0.5, f"z-order time pruning too weak: {z_t}"


# ---- round-4 plan-shape pins (PLANS.md "round-4 additions" table) ----

def _distinct_scans(plan: str) -> int:
    """Unique parquet-scan nodes in a formatted plan (the tree section may
    print a shared node several times; the detail section lists each node
    id exactly once)."""
    import re

    return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))


def test_retention_single_scan_zero_joins(spark, sf):
    import __spark_entry__ as e

    plan = _plan(e.queries()["user_retention_cohorts"](spark, sf))
    assert _distinct_scans(plan) == 1  # sizes branch must not re-scan
    assert "Join" not in plan  # cohort day + size are windows, not joins


def test_bm25_two_scans_no_smj(spark, sf):
    import __spark_entry__ as e

    plan = _plan(e.queries()["bm25_doc_search"](spark, sf))
    # ONE tokenize scan feeds the persisted slim (doc_id, dl, mtoks)
    # frame; stats, tf (in-row counts, no (doc,term) exchange) and df all
    # read it (r11 rewrite, guide §8 decide-with-small-rows)
    assert _distinct_scans(plan) == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_bpe_topk_is_take_ordered(spark, sf):
    import __spark_entry__ as e

    plan = _plan(e.queries()["bpe_pair_counts"](spark, sf))
    assert "TakeOrderedAndProject" in plan  # no global sort materialization


def test_adc_rerank_stays_joinsafe(spark, sf):
    import __spark_entry__ as e

    plan = _plan(e.queries()["similarity_topk_ivf_adc_rerank"](spark, sf))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # all joins broadcast-side
    assert "WindowGroupLimit" in plan


def test_zvalue_nonnegative_for_int32_inputs(spark):
    """Regression: shiftleft preserves its input type, so int32 columns at
    bits=16 used to set the int32 sign bit (position 31) and produce
    negative Morton keys that split the z-curve. zvalue must cast to
    bigint internally."""
    from realtimedatawarehouse_self_spark.sources.layout import zvalue

    df = spark.range(0, 70000).selectExpr(
        "CAST(id % 65536 AS INT) AS a", "CAST(id % 65536 AS INT) AS b"
    )
    stats = df.select(zvalue("a", "b", 16).alias("z")).agg(
        F.min("z").alias("mn"), F.max("z").alias("mx")
    ).collect()[0]
    assert stats.mn >= 0
    assert stats.mx >= (1 << 31)  # top interleaved bit genuinely reached


def test_runtime_bloom_filter_reaches_fact_scan(spark, sf):
    """Runtime bloom-filter join (on by default in the engine session): a
    selective dim-side predicate must inject a bloom probe into the FACT
    side's scan stage when the join is a shuffle join — the runtime
    semi-join reduction that saves shuffling 100 TB of non-matching fact
    rows. Thresholds are lowered test-scoped (defaults are cluster-sized);
    the capability, not the threshold, is what's pinned."""
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    scoped = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in scoped}
    try:
        for k, v in scoped.items():
            spark.conf.set(k, v)
        o = (
            load_table(spark, sf, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        l = load_table(spark, sf, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        j = l.join(o, l.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter" in plan.lower() or "bloomfilter" in plan.lower()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_range_partition_planner_equi_depth(spark, sf):
    """plan_range_partitions invariants: buckets cover every row exactly
    once, ranges are disjoint whole-key intervals in key order, and no
    bucket exceeds the equi-depth bound n/B + max single-key frequency
    (the slack whole-key granularity forces)."""
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.extras import RANGE_BUCKETS
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    rows = sorted(
        tuple(r)
        for r in e.queries()["plan_range_partitions"](spark, sf).collect()
    )
    ev = load_table(spark, sf, "events").filter(F.col("user_id").isNotNull())
    n = ev.count()
    max_key = (
        ev.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    )
    assert sum(r[3] for r in rows) == n
    assert len(rows) <= RANGE_BUCKETS
    for (b1, lo1, hi1, ct1, k1), (b2, lo2, hi2, ct2, k2) in zip(
        rows, rows[1:]
    ):
        assert b1 < b2 and lo1 <= hi1 and hi1 < lo2
    for _, _, _, ct, _ in rows:
        assert ct <= n // RANGE_BUCKETS + max_key


def test_orc_roundtrip_pushdown_and_pruning(spark, tmp_path):
    """ORC ingest parity with parquet: values round-trip exactly, filters
    reach the ORC scan (PushedFilters) and projection prunes the read
    schema to the selected columns."""
    from realtimedatawarehouse_self_spark.sources.files import (
        read_orc,
        write_orc,
    )

    df = spark.range(1000).selectExpr(
        "id", "id % 7 AS k", "cast(id * 2 as double) AS v",
        "concat('row', id) AS s"
    )
    path = str(tmp_path / "orc")
    write_orc(df, path)

    back = read_orc(spark, path)
    assert back.count() == 1000
    assert sorted(back.columns) == ["id", "k", "s", "v"]
    assert back.agg(F.sum("v")).collect()[0][0] == sum(i * 2 for i in range(1000))

    probe = back.filter(F.col("k") == 3).select("id", "v")
    plan = _plan(probe)
    assert "PushedFilters" in plan and "k" in plan
    assert "ReadSchema" in plan
    # the pruned schema must not carry the unused string column
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "s:" not in read_schema.replace(" ", "")


# ---- round-6 plan-shape pins (PLANS.md wave 2-6 tables) ----

def test_array_surface_zero_exchange(spark, sf):
    """The HOF surface is a pure per-row map: a hash/range Exchange in the
    plan means a shuffle crept into what must stay scan-parallel work.
    (The single allowed Exchange is load_table's deliberate round-robin
    fan-out of the one-file source across cores — data-volume-preserving
    repartition, not a keyed shuffle.)"""
    import __spark_entry__ as e

    plan = _plan(e.queries()["array_function_surface"](spark, sf))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert _distinct_scans(plan) == 1


def test_unpivot_single_scan_expand(spark, sf):
    """Native UNPIVOT must stay a row-local Expand fused with ONE scan —
    the degenerate alternative (a UNION of three scans) reads the fact
    table three times."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["unpivot_revenue_components"](spark, sf))
    assert _distinct_scans(plan) == 1
    assert "Expand" in plan
    assert "Union" not in plan


def test_zorder_audit_broadcast_range_only(spark, sf):
    """The min/max frame is ONE row: it must broadcast (nested-loop against
    a 1-row build side), never shuffle-join; and the scan must prune to
    the two audited key columns."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["zorder_layout_audit"](spark, sf))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert all(
        "l_orderkey" in ln and "l_comment" not in ln for ln in read_schemas
    )


def test_mad_windows_ride_one_fact_shuffle(spark, sf):
    """Both exact-median passes run over the tiny daily frame — the fact
    table must be scanned once and shuffled once (to (type, day)); the
    median/MAD frames come back as broadcasts."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["mad_anomaly_daily"](spark, sf))
    assert "SortMergeJoin" not in plan  # med/mad joins are broadcasts
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    # column pruning: the events scan needs only (ts, event_type)
    assert all("value" not in ln and "props" not in ln for ln in read_schemas)


def test_linkpred_wedge_join_no_cartesian(spark, sf):
    import __spark_entry__ as e

    plan = _plan(e.queries()["link_prediction_common_neighbors"](spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # wedge join is keyed on z


def test_bucketed_join_colocation_no_prejoin_exchange(spark, sf):
    """The whole point of the bucketed layout: both scans read co-located
    buckets (`Bucketed: true`, all buckets selected) and the SortMergeJoin
    consumes them with ZERO Exchange underneath — the only shuffle in the
    plan is the post-join groupBy. An Exchange feeding the join would mean
    the bucketing metadata was lost and the 100 TB saving with it."""
    import re

    import __spark_entry__ as e

    plan = _plan(e.queries()["bucketed_join_colocation"](spark, sf))
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    assert "SelectedBucketsCount: 8 out of 8" in plan
    # the detail section lists each Exchange node once: exactly one, and it
    # must be the aggregate's ENSURE_REQUIREMENTS shuffle on c_mktsegment,
    # never a join-input shuffle on the bucket key
    ex_ids = re.findall(r"^\((\d+)\) Exchange", plan, re.M)
    assert len(ex_ids) == 1, plan
    detail = plan.split(f"({ex_ids[0]}) Exchange", 1)[1]
    assert "c_mktsegment" in detail.splitlines()[2]


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """DPP: a filter on the DIM side must prune the date-partitioned fact
    scan at RUNTIME (`dynamicpruningexpression` inside PartitionFilters) —
    the mechanism that lets a 100 TB date-partitioned fact skip partitions
    based on a dim predicate Catalyst cannot resolve statically."""
    import datetime as dt

    from realtimedatawarehouse_self_spark.sources.layout import (
        read_partitioned,
        write_date_partitioned,
    )

    rows = [
        (i, dt.datetime(2024, 1, 1 + (i % 5)), float(i)) for i in range(50)
    ]
    fact = spark.createDataFrame(rows, "id long, ts timestamp, v double")
    path = str(tmp_path / "fact_dpp")
    write_date_partitioned(fact, path)

    dim = spark.createDataFrame(
        [("2024-01-0" + str(d), "keep" if d <= 2 else "drop")
         for d in range(1, 6)],
        "dt string, tag string",
    )
    joined = (
        read_partitioned(spark, path)
        .join(dim.filter(F.col("tag") == "keep"), "dt")
        .groupBy("dt")
        .count()
    )
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    got = {str(r["dt"]): r["count"] for r in joined.collect()}
    assert set(got) == {"2024-01-01", "2024-01-02"}


def test_domain_cap_partial_window_group_limit(spark, sf):
    """r9 scale lock: the per-domain cap must show TWO WindowGroupLimit
    nodes — the partial one BEFORE the exchange (a hot host then moves at
    most K rows per upstream partition) and the final one after. Losing
    the partial (e.g. by adding a non-rank-limit predicate) silently
    reverts to shuffling every doc of every host."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["domain_frequency_cap"](spark, sf))
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "PushedFilters: [IsNotNull(text)]" in plan, plan


def test_html_extraction_shuffle_free(spark, sf):
    """r9 scale lock: extraction is ONE Arrow pass. The only allowed
    Exchange is the deliberate round-robin CPU fan-out from
    load_table(fan_out=True) (few parquet files would otherwise starve
    the Arrow stage); any key-based Exchange means a shuffle crept into
    the embarrassingly-parallel stage."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["html_text_extraction"](spark, sf))
    # tree entries look like "Exchange (3)"; each detail block carries the
    # REPARTITION_BY_NUM tag iff it is the round-robin fan-out
    assert plan.count("Exchange (") == plan.count("REPARTITION_BY_NUM"), plan
    assert plan.count("MapInPandas (") == 1, plan


def test_warc_parse_shuffle_free_and_codegen(spark, sf):
    """r9 scale lock: the WARC parse is pure JVM expression work — no
    Exchange, no Python stage, and the parse runs inside whole-stage
    codegen (formatted explain marks nodes with `[codegen id : N]`)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["warc_record_parse"](spark, sf))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    assert "codegen id" in plan, plan


def test_blocklist_filter_broadcasts_anti_join(spark, sf):
    """r9 scale lock: the corpus side of the blocklist screen must not
    shuffle — the tiny host list broadcasts into a left-anti BHJ."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["robots_blocklist_filter"](spark, sf))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


# ---- round-9 wave 31-36 plan-shape pins (PLANS.md r9 tables) ----


def test_rake_top_k_uses_window_group_limit(spark, sf):
    """r9 scale lock: RAKE's per-doc top-K must plan as WindowGroupLimit
    (partial rank-limit before the exchange), not a full per-doc sort of
    every candidate phrase."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["keyphrase_rake"](spark, sf))
    assert "WindowGroupLimit" in plan, plan


def test_rouge_reference_side_broadcasts(spark, sf):
    """r9 scale lock: the ROUGE reference side is ONE doc per
    (source, lang) — every join against it must be a broadcast, so the
    candidate corpus never shuffles on the bigram key."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["rouge_bigram_eval"](spark, sf))
    assert "BroadcastHashJoin" in plan, plan


def test_semdedup_pairs_inside_cells(spark, sf):
    """r9 scale lock: the SemDeDup sweep's self-join condition must keep
    the cell-equality conjunct (pairs only form INSIDE coarse cells); a
    dropped conjunct degenerates to the all-pairs O(n^2) join. The pair
    frame is persisted (InMemoryRelation) so the two aggregation
    branches — epsilon counts and per-vector max — share one evaluation."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["semdedup_eps_sweep"](spark, sf))
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan
    assert "cell" in plan, plan


def test_bt_strengths_join_small_frames_broadcast(spark, sf):
    """r9 scale lock: every MM-iteration join runs on |types|-bounded
    frames — the plan must contain no SortMergeJoin anywhere (a SMJ here
    means a tiny strengths frame stopped broadcasting and the win matrix
    started shuffling)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["bradley_terry_strength"](spark, sf))
    assert "SortMergeJoin" not in plan, plan


def test_fasttext_scorer_is_scan_bound(spark, sf):
    """r9 scale lock: the hashed linear scorer is per-row codegen work —
    no Exchange beyond the deliberate fan-out repartition, no Python
    stage."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["fasttext_hash_quality"](spark, sf))
    assert plan.count("Exchange (") == plan.count("REPARTITION_BY_NUM"), plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan


def test_episode_advantage_baseline_broadcasts_day_stats(spark, sf):
    """r9 scale lock: the |days|-row baseline joins back by broadcast —
    the episode frame must not shuffle a second time for the join."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["episode_advantage_baseline"](spark, sf))
    assert "BroadcastHashJoin" in plan, plan


def test_duplicated_spans_anchor_join_shape(spark, sf):
    """r10 scale lock (VERDICT r9 #4): the Lee-2022-class span detector's
    candidate generation must stay bucketed — pairs fan out INSIDE the
    per-anchor-hash grouped row (one Exchange on the hash, C(CAP,2)
    bounded), never via a cartesian / unkeyed self-join; the tokenized
    scan is persisted and reused by the verify joins (one parquet scan
    total); run detection is the windowed gaps-and-islands, not an
    iterative loop."""
    import __spark_entry__ as e

    # clearCache first: the suite shares one session and building OTHER
    # queries registers their persist() plans in the CacheManager, which
    # substitutes InMemoryTableScan into any later plan sharing a
    # fragment — the bench clears the cache before every run, so the
    # lock must check the plan the driver actually executes (same fix
    # class as the r10 cdc chunking lock).
    spark.catalog.clearCache()
    plan = _plan(e.queries()["dedup_duplicated_spans"](spark, sf))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the verify joins must stay SHUFFLE_HASH-pinned: the unhinted plan
    # broadcast the token-array CORPUS side (driver OOM at 10x sf0.1)
    assert plan.count("ShuffledHashJoin") == 4, plan
    assert "BroadcastExchange" not in plan, plan
    # tokenized scan persisted once, consumed three times (anchors + the
    # two verify sides); formatted explain prints each node in the tree
    # AND the detail section, so every marker appears twice
    assert plan.count("InMemoryTableScan") == 6, plan
    assert "Window" in plan, plan
    # anchor grouping is the collect_list ObjectHashAggregate pair with a
    # map-side partial (partial + final, x2 for the detail section)
    assert plan.count("ObjectHashAggregate") == 4, plan


def test_crawl_funnel_no_cartesian_and_stage_reuse(spark, sf):
    """r10 scale lock: the composed crawl->train funnel must never plan a
    cartesian product across its ten stage seams; the only nested-loop
    joins are the crossJoin(broadcast(1-row-agg)) totals inside the
    mixture primitive (re-printed per mixture-consuming leg since the r11
    one-pass restructure dropped the `sampled` persist); the slim per-doc
    decision frame is persisted (InMemoryTableScan present) so the Arrow
    HTML extraction runs ONCE for all ten legs (r11, guide §8 — before,
    each leg from 01 on re-ran it). Raw marker counts are display-
    inflated here (each persist layer re-prints its ancestors), so the
    lock pins invariants, not counts — each stage's own physical shape is
    pinned by its standalone query's lock."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["crawl_to_train_funnel"](spark, sf))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 8, plan
    assert "InMemoryTableScan" in plan, plan
    assert "MapInPandas" in plan, plan  # the Arrow extraction stage


def test_bleu_reference_side_broadcasts(spark, sf):
    """r10 optimization-round scale lock: BLEU's reference table is ONE
    doc per (source, lang) — every join against it must broadcast, and
    the clipped overlaps are computed IN-ROW via occurrence-tagged gram
    arrays: no gram is ever exploded into rows (no Generate), so no gram
    string can cross an exchange and no persisted gram frame exists."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["bleu_ngram_eval"](spark, sf))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Generate" not in plan, plan  # grams never become rows
    assert "array_intersect" in plan, plan  # in-row clipped overlap


def test_cdc_chunking_is_codegen_single_pass(spark, sf):
    """r10 scale lock: content-defined chunking runs entirely inside
    codegen (cuts array + chunk structs in one Generate pipeline — no
    Python stage, no window, no self-join); the chunk frame's two
    consumers (stats + flag join) share one evaluation via ReusedExchange
    — no cache layer (persist dropped in the r10 A/B: 0.86 s vs 1.07 s).

    clearCache first: the suite shares one session and building OTHER
    queries registers their persist() plans in the CacheManager, which
    then substitutes InMemoryTableScan into any later plan sharing a
    fragment — a suite-order artifact, not this query's plan (the lock
    passes standalone; the bench clears the cache before every run)."""
    import __spark_entry__ as e

    spark.catalog.clearCache()
    plan = _plan(e.queries()["cdc_chunk_dedup"](spark, sf))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    assert "Generate" in plan, plan


def test_span_removal_inherits_shuffle_hash_doctrine(spark, sf):
    """r10 scale lock: the removal op reuses _verified_spans (so the
    verify joins stay SHUFFLE_HASH-pinned) and its own base-join against
    the duplication-sized removal frame is likewise pinned — zero
    BroadcastExchange anywhere; the interval-union sweep is one keyed
    Window, not a self-join."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["duplicated_span_removal"](spark, sf))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    assert "Window" in plan, plan


def test_curriculum_rank_is_one_window_no_join(spark, sf):
    """r10 scale lock: the curriculum plan is scan -> per-lang window ->
    tiny-key combine; no join may appear (a join would mean the rank and
    count were computed as separate aggregations and reassembled)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["curriculum_order_plan"](spark, sf))
    assert "Join" not in plan, plan
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_robots_rules_join_is_broadcast_only(spark, sf):
    """r10 wave 41 scale lock: the RFC 9309 rules table is host-level —
    tiny at any corpus size — so the rules join must be a
    BroadcastHashJoin (host equi-key + prefix condition); a
    SortMergeJoin or shuffled-hash here would shuffle the corpus on
    host just to consult a dictionary."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["robots_rule_eval"](spark, sf))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_frontier_plan_is_one_window_no_join(spark, sf):
    """r10 wave 41 scale lock: the politeness schedule is scan ->
    per-host rank window -> tiny-key combine; zero joins (the
    curriculum_order_plan shape — rank and host count share ONE window
    exchange)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["crawl_frontier_plan"](spark, sf))
    assert "Join" not in plan, plan
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_host_quality_is_single_scan_no_join(spark, sf):
    """r10 wave 41 scale lock: the global mean derives from the per-host
    sums (sum-of-sums over the |hosts| frame), so the corpus is scanned
    ONCE and the plan has ZERO joins — a join (or a second scan) means
    the global mean was recomputed from the documents table; the 10x
    stress caught exactly that double-scan shape costing 2x before this
    lock was written."""
    import __spark_entry__ as e

    df = e.queries()["host_quality_shrinkage"](spark, sf)
    plan = _plan(df)
    # zero joins in a linear tree ⇒ exactly one scan by construction
    assert "Join" not in plan, plan
    assert "Union" not in plan, plan
    assert "Window" in plan, plan


def test_chrf_reference_side_broadcasts(spark, sf):
    """r10 optimization-round scale lock: chrF is the BLEU shape at
    character level — the reference (ONE doc per (source, lang)) must
    broadcast, and clip counts are computed IN-ROW via occurrence-tagged
    char-gram arrays: no gram row, no Generate, no persisted gram frame,
    no gram ever crossing an exchange."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["chrf_char_eval"](spark, sf))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Generate" not in plan, plan  # grams never become rows
    assert "array_intersect" in plan, plan  # in-row clipped overlap


def test_threshold_sweep_is_one_combine_no_join(spark, sf):
    """r10 wave 42 scale lock: the whole 8-threshold grid must come out
    of ONE per-lang conditional-aggregate combine + a stack() unpivot of
    the |langs| frame (the semdedup_eps_sweep doctrine) — a join or a
    second aggregate means the sweep re-scanned per threshold."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["quality_threshold_sweep"](spark, sf))
    assert "Join" not in plan, plan
    assert "Generate" in plan, plan  # the stack() unpivot


def test_distinct_n_diversity_has_no_join(spark, sf):
    """r10 wave 42 scale lock: distinct-n is explode -> (source, n, gram)
    combine -> (source, n) rollup; zero joins, zero windows."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["distinct_ngram_diversity"](spark, sf))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_vocab_growth_has_no_global_sort(spark, sf):
    """r10 wave 43 scale lock: the Heaps curve must NOT rank the corpus —
    the band is arithmetic off a broadcast (min, max) 1-row aggregate, so
    the only Window in the plan is the cumulative sum over the B-row
    curve frame; a global Sort of the corpus (or a rank window over it)
    means the checkpoint split was computed by ordering 100 TB."""
    import __spark_entry__ as e

    df = e.queries()["vocab_growth_curve"](spark, sf)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan  # the bounds attach
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_code_switch_profile_has_no_doc_join(spark, sf):
    """r10 wave 44 scale lock: the dominant pick, distinct-pred count,
    switch total, and window total all come out of ONE chained
    aggregation ((doc, pred) -> doc, single-BIGINT arg-max encoding) —
    a join here would shuffle two corpus-sized doc frames against each
    other; the lag window is per-doc bounded."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["code_switch_profile"](spark, sf))
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_shard_conformance_single_scan_windows_only(spark, sf):
    """r10 wave 44 scale lock: shard totals / source totals / corpus
    totals all attach as windows over the |shards|x|sources| cell frame
    — no join and no second corpus scan (the host_quality_shrinkage
    lesson applied at design time)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["mixture_shard_conformance"](spark, sf))
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_badword_filter_is_scan_bound(spark, sf):
    """r10 wave 44 scale lock: the lexicon gate is per-token codegen
    inside one aggregate() over the token array — zero shuffle, zero
    join, zero window (the fasttext_hash_quality plan shape)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["badword_ratio_filter"](spark, sf))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan


def test_bitext_mining_candidates_are_cell_bounded_and_persisted(spark, sf):
    """r10 wave 45 scale lock: the src x tgt candidate join must carry
    the IVF cell-equality key (never a CartesianProduct — all-pairs
    mining is quadratic), the pair frame must persist ONCE and feed both
    sides' top-K passes (InMemoryTableScan), and the per-side top-K must
    plan as WindowGroupLimit (partial top-K before the exchange)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["bitext_margin_mining"](spark, sf))
    assert "CartesianProduct" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_return_to_go_is_windows_plus_one_combine(spark, sf):
    """r10 wave 46 scale lock: rtg is the per-episode suffix-sum window
    over the SAME episode exchange the discounted fold uses, then one
    episode-keyed combine — zero joins; a join would mean the summary
    stats were assembled from separate aggregations."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["episode_return_to_go"](spark, sf))
    assert "Join" not in plan, plan
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sft_turn_audit_single_conversation_exchange(spark, sf):
    """r10 wave 47 scale lock: the lag/turn_no windows and the
    per-conversation combine all key on (user_id, day), so the whole
    audit is ONE Exchange — a second exchange or a join would mean the
    structure counters were assembled from separate frames."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["sft_turn_structure_audit"](spark, sf))
    assert "Join" not in plan, plan
    # exactly one hash exchange (the fan_out roundrobin is a local[32]
    # read artifact, not a keyed shuffle)
    assert plan.count("hashpartitioning") == 1, plan


def test_sft_template_render_single_exchange_no_window(spark, sf):
    """r10 wave 47 scale lock: the ordered render is
    sort_array(collect_list(...)) INSIDE the conversation combine —
    one Exchange, no window, no join; groups are user-day bounded so
    no collect_list can skew a partition at any corpus size."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["sft_template_render_overhead"](spark, sf))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("hashpartitioning") == 1, plan


def test_sft_loss_masking_is_one_combine(spark, sf):
    """r10 wave 47 scale lock: scan -> day-keyed partial+final combine;
    no window, no join — the yield is map-side combinable everywhere."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["sft_loss_masking_plan"](spark, sf))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "partial" in plan.lower(), plan


def test_unicode_audit_is_shuffle_free_arrow_path(spark, sf):
    """r10 wave 48 scale lock: the NFC audit is one Arrow-batched
    mapInPandas pass over the scan — zero keyed shuffles, no join;
    embarrassingly parallel at any corpus size."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["unicode_normalization_audit"](spark, sf))
    assert "MapInPandas" in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_caption_alignment_join_is_shuffle_hash_pinned(spark, sf):
    """r10 wave 49 scale lock: the 1:1 pair join must be a hash join on
    the id (SHUFFLE_HASH-pinned — a sort-merge would sort two corpus-
    sized frames for a key-unique join; bucketed co-located storage
    removes the exchange entirely at scale), and the caption vector is
    built in-row (no extra shuffle before the join)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["caption_image_alignment"](spark, sf))
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_length_bias_probe_has_no_join(spark, sf):
    """r10 wave 49 scale lock: comparisons come from the in-row pair
    explode over each (user, day)'s type array (|types|^2-bounded), not
    a self-join of two corpus-sized frames."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["preference_length_bias_probe"](spark, sf))
    assert "Join" not in plan, plan


def test_watermark_detect_is_shuffle_free_scan_bound(spark, sf):
    """r10 wave 50 scale lock: the greenlist recount is per-row codegen —
    no hash shuffle, no join, no window. At 100 TB the screen must be
    scan-bound (the only Exchange is the local fan-out round-robin)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["synthetic_watermark_detect"](spark, sf))
    assert "hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_dpo_pair_extraction_two_combines_no_join(spark, sf):
    """r10 wave 50 scale lock: the prompt-level top-1 must come from the
    in-row pair explode + a window on the SAME (user, day) key as the
    second combine — exactly two hash exchanges, a WindowGroupLimit so
    only the best pair survives the sort, and no self-join of the
    comparison frame."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["dpo_pair_extraction"](spark, sf))
    assert "Join" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("hashpartitioning") <= 4, plan  # 2 nodes x tree+detail


def test_ndcg_eval_partial_topk_before_exchange(spark, sf):
    """r10 wave 51 scale lock: both per-query top-K orderings must carry
    a PARTIAL WindowGroupLimit below their Exchange (map-side limit, so
    shuffle volume is Q*K per task — never the corpus), the ideal branch
    joins broadcast, and nothing sort-merges."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["retrieval_ndcg_eval"](spark, sf))
    # 2 branches x (partial + final) x (tree + detail) = 8 mentions
    assert plan.count("WindowGroupLimit") >= 8, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_fim_plan_is_single_combine_scan_bound(spark, sf):
    """r10 wave 51 scale lock: the FIM staging is per-row codegen on the
    token COUNT (the token array is never exploded), followed by one
    tiny (lang, mode) combine — no join, no window, exactly one hash
    exchange."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["fim_transform_plan"](spark, sf))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert plan.count("hashpartitioning") <= 2, plan  # 1 node x tree+detail


def test_memorization_risk_joins_all_shuffle_hash(spark, sf):
    """r10 wave 53 scale lock: every join in the risk assembly (the
    _verified_spans verify joins, the exact-dup group join, the span-mass
    join) must be a shuffle-hash join — dup evidence is data-sized at a
    constant dup rate, so the planner must never broadcast a corpus-sized
    frame (the wave-37 driver-OOM lesson), and nothing sort-merges."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["memorization_risk_audit"](spark, sf))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_tokenizer_parity_pivot_is_broadcast(spark, sf):
    """r10 wave 53 scale lock: one tiny per-lang combine; the pivot row
    joins back via the broadcast-tiny-agg crossJoin pattern (never a
    shuffle), and the corpus is scanned once."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["tokenizer_parity_audit"](spark, sf))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # two scan NODES (x tree+detail): the per-lang combine feeds the
    # output rows and the 1-row pivot agg; both are 3-column projections
    assert plan.count("Scan parquet") <= 4, plan


def test_collision_audit_no_pair_join(spark, sf):
    """r10 wave 54 scale lock: collisions come from C(n_s, 2) over group
    sizes — two chained combines, never a pair join or explode."""
    import __spark_entry__ as e

    plan = _plan(
        e.queries()["inbatch_negative_collision_audit"](spark, sf)
    )
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan
    assert "Window" not in plan, plan


def test_cascade_planner_joint_then_tiny_scoring(spark, sf):
    """r10 wave 54 scale lock, tightened in r11: the corpus side collapses
    to the <=16-row joint pattern frame before any ordering math (the
    24x16 scoring crossJoin is broadcast — driver-tiny at any corpus
    size); the dup flag rides a th-keyed count WINDOW (r11, guide §2.4 —
    the former groupBy(th) + shuffle-hash join back re-shuffled the
    per-doc frame twice and evaluated the md5+tokenize projection once
    per join side); nothing sort-merges and no doc-frame join remains."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["filter_cascade_order_plan"](spark, sf))
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "Window" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_epoch_value_plan_two_combines_broadcast_ktab(spark, sf):
    """r10 wave 55 scale lock: unique-token supply = md5-group combine
    -> per-lang combine; the 8-row decay table joins via the broadcast
    crossJoin pattern; no window, no sort-merge."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["repeated_epoch_value_plan"](spark, sf))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_sft_complexity_single_combine(spark, sf):
    """r10 wave 55 scale lock: ONE conversation-keyed combine (the
    count-distinct expands to a two-phase aggregate on the same key) —
    no window, no join."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["sft_complexity_score"](spark, sf))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_quant_outlier_single_combine_no_join(spark, sf):
    """r10 wave 56 scale lock: posexplode -> ONE per-dim combine with
    map-side partials (the centroid-drift shape) — no join, no window."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["quantization_outlier_audit"](spark, sf))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("hashpartitioning") <= 2, plan


def test_prefix_cache_plan_two_combines_no_join(spark, sf):
    """r10 wave 56 scale lock: in-row K-sweep prefix build (only the
    4-element K explode generates), then (K, prefix) -> K combines —
    no join, no window, no token-level explode."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["prompt_prefix_cache_plan"](spark, sf))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
