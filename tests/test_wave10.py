"""Wave-10 invariants beyond the oracle parity gate:

- join_cardinality_estimate's `exact_rows` must equal the MATERIALIZED
  join's row count — the audit's ground truth is the real join, so the
  histogram-product shortcut is checked against the thing it avoids.
- Its top-H selection must compile to TakeOrderedAndProject (never a
  global sort of the key-count frame).
- mmr_diversified_topk must equal an independent pure-Python greedy over
  the same int8 codes (candidate generation, pairwise sims, and all K
  selection rounds recomputed from scratch — exact integer comparison).
- weighted_sample_priority must equal a pure-Python recount of the
  hash-priority bottom-K per language.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from tests.conftest import explain_text as _plan


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_join_cardinality_exact_matches_materialized_join(spark, sf):
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.sketches import CARD_JOINS
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    rows = {
        r["join_name"]: r
        for r in e.queries()["join_cardinality_estimate"](spark, sf).collect()
    }
    assert set(rows) == {n for n, *_ in CARD_JOINS}
    for name, ta, ka, tb, kb in CARD_JOINS:
        a = load_table(spark, sf, ta).filter(F.col(ka).isNotNull())
        b = load_table(spark, sf, tb).filter(F.col(kb).isNotNull())
        actual = (
            a.select(F.col(ka).cast("bigint").alias("jk"))
            .join(b.select(F.col(kb).cast("bigint").alias("jk")), "jk")
            .count()
        )
        assert rows[name]["exact_rows"] == actual, (name, actual)
        assert rows[name]["est_uniform"] > 0 and rows[name]["est_hh"] > 0


def test_join_cardinality_uses_take_ordered_not_global_sort(spark, sf):
    import __spark_entry__ as e

    plan = _plan(e.queries()["join_cardinality_estimate"](spark, sf))
    assert "TakeOrderedAndProject" in plan


def _int8_codes(spark, sf):
    from realtimedatawarehouse_self_spark.plans.llm_ops import (
        _emb,
        _with_int8_codes,
    )

    return {
        r["vec_id"]: list(r["q"])
        for r in _with_int8_codes(_emb(spark, sf)).select("vec_id", "q").collect()
    }


def test_mmr_matches_pure_python_greedy(spark, sf):
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.retrieval import (
        MMR_K,
        MMR_LAMBDA_PPM,
        MMR_NCAND,
        MMR_QUERIES,
        _MMR_MU_PPM,
    )

    codes = _int8_codes(spark, sf)
    got = {}
    for r in e.queries()["mmr_diversified_topk"](spark, sf).collect():
        got[(r["query_id"], r["rnk"])] = (r["neighbor_id"], r["rel"], r["mmr_score"])

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    for qid in range(MMR_QUERIES):
        qq = codes[qid]
        rels = sorted(
            ((dot(qq, q), vid) for vid, q in codes.items() if vid != qid),
            key=lambda t: (-t[0], t[1]),
        )
        cand = {vid: rel for rel, vid in rels[:MMR_NCAND]}
        selected = []
        for rnk in range(1, MMR_K + 1):
            best = None
            for vid, rel in cand.items():
                if vid in (s for s, _ in selected):
                    continue
                if not selected:
                    score = rel * MMR_LAMBDA_PPM
                else:
                    maxsim = max(
                        dot(codes[vid], codes[s]) for s, _ in selected
                    )
                    score = rel * MMR_LAMBDA_PPM - maxsim * _MMR_MU_PPM
                key = (-score, vid)
                if best is None or key < best[0]:
                    best = (key, vid, rel, score)
            selected.append((best[1], best[3]))
            assert got[(qid, rnk)] == (best[1], cand[best[1]], best[3]), (
                qid,
                rnk,
                got[(qid, rnk)],
                best,
            )


def test_weighted_sample_matches_python_recount(spark, sf):
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.plans.corpus_ops import WPRI_K

    docs = (
        spark.read.parquet(os.path.join(sf, "documents.parquet"))
        .select("doc_id", "lang", "n_chars")
        .collect()
    )
    by_lang: dict[str, list] = {}
    for r in docs:
        w = max(r["n_chars"], 1)
        pri = _h60(f"wpri:{r['doc_id']}") // w
        by_lang.setdefault(r["lang"], []).append((pri, r["doc_id"], w))
    expect = {}
    for lang, items in by_lang.items():
        total = sum(w for _, _, w in items)
        for rnk, (pri, did, w) in enumerate(sorted(items)[:WPRI_K], start=1):
            expect[(lang, rnk)] = (did, w, pri, w * 1_000_000 // total)
    rows = e.queries()["weighted_sample_priority"](spark, sf).collect()
    assert len(rows) == len(expect)
    for r in rows:
        assert expect[(r["lang"], r["rnk"])] == (
            r["doc_id"],
            r["weight"],
            r["priority"],
            r["weight_share_ppm"],
        ), r


def test_mmr_first_pick_is_top_relevance_and_picks_distinct(spark, sf):
    import __spark_entry__ as e

    rows = e.queries()["mmr_diversified_topk"](spark, sf).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        ids = [r["neighbor_id"] for r in rs]
        assert len(ids) == len(set(ids)), f"duplicate picks for query {qid}"
        r1 = next(r for r in rs if r["rnk"] == 1)
        assert r1["rel"] == max(r["rel"] for r in rs)


def test_mmr_small_corpus_matches_oracle(spark, duck, tmp_path):
    """ADVICE r6: a query with fewer than MMR_K eligible candidates used
    to emit NULL-rnk rows (element_at on an exhausted candidate array →
    NULL struct survives explode_outer) while the oracle simply emits
    fewer rows. Build a 3-vector corpus (each query sees only 2
    candidates < MMR_K=4) and require full engine-vs-oracle parity plus
    the no-NULL-pick invariant."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e
    from tests.conftest import TESTDATA
    from tests.oracle_harness import compare_query, register_duckdb_views

    src = os.path.join(TESTDATA, "sf0.001")
    d = str(tmp_path / "tiny_sf")
    os.makedirs(d)
    for t in ("region", "nation"):  # cheap placeholders; query reads only embeddings
        shutil.copy(os.path.join(src, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(3, 16)).astype("float32")
    tbl = pa.table(
        {
            "vec_id": pa.array(range(3), pa.int64()),
            "embedding": pa.array([list(map(float, v)) for v in vecs], pa.list_(pa.float32())),
            "label": pa.array([0, 1, 0], pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "embeddings.parquet"))

    df = e.queries()["mmr_diversified_topk"](spark, d)
    rows = df.collect()
    assert rows, "tiny corpus must still produce picks"
    assert all(r["neighbor_id"] is not None and r["rnk"] is not None for r in rows)
    # each of the 3 queries exhausts after 2 picks: exactly 6 rows
    assert len(rows) == 6
    register_duckdb_views(duck, d)
    ok, detail = compare_query(df, duck, e.oracle_sql()["mmr_diversified_topk"])
    assert ok, detail
