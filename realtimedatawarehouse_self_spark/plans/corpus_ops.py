"""Training-corpus curation operators, round 2: decontamination,
repetition filtering, PII scrubbing, context-window packing, and kNN label
voting. These extend `plans/llm_ops.py` (beyond the reference's own surface
— BASELINE.json north-star) with the remaining ops a 100 TB pretraining
pipeline runs between "dedup" and "train".

Design per operator (scale notes inline):

- decontamination: the benchmark/eval shingle set is tiny relative to the
  corpus — broadcast it; the corpus side is one scan + explode, no corpus
  shuffle beyond the per-doc aggregate.
- repetition filter: one shuffle on (doc_id, token) with map-side combine;
  everything downstream is per-doc arithmetic in codegen.
- PII scrub: pure regexp expressions — scan-bound, embarrassingly parallel.
- packing: running prefix-sum per (lang) window — one shuffle per key
  group; pack summaries via one tiny-key aggregate.
- kNN vote: the query side (NUM_QUERY_VECS rows) broadcasts; the corpus is
  scanned once; the vote is a tiny-key aggregate over query_id.

All thresholds are integer-arithmetic (k*x >= y) so the DuckDB oracle
comparison is exact; ratios emitted as doubles are single divisions of the
same two integers on both engines (bit-identical IEEE754).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realtimedatawarehouse_self_spark.functions.exprs import cosine, tokens
from realtimedatawarehouse_self_spark.plans.llm_ops import (
    NUM_QUERY_VECS,
    _COSINE_SQL,
    _SHINGLE_CTE,
    _docs,
    _doc_shingles,
    materialize_repeated_ctes,
)

# eval/benchmark membership: deterministic id slice (stand-in for a real
# held-out benchmark table; swap the filter for a join against it)
EVAL_MOD = 97
CONTAM_PCT_NUM, CONTAM_PCT_DEN = 1, 5  # contaminated if hits/sh >= 1/5

# repetition-filter thresholds (Gopher-style, integer-exact)
TOP_TOKEN_MAX_NUM, TOP_TOKEN_MAX_DEN = 1, 5  # top token <= 1/5 of tokens
DISTINCT_MIN_NUM, DISTINCT_MIN_DEN = 3, 10  # distinct >= 3/10 of tokens

# PII scrub: regex patterns plus a dictionary wordlist (the common shape:
# pattern PII like emails, and a curated term list like names/products)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
SCRUB_TERMS = ("customer", "vector")
SCRUB_RE = r"\b(" + "|".join(SCRUB_TERMS) + r")\b"
REDACTED = "[REDACTED]"

PACK_BUDGET = 512  # tokens per training-context pack

KNN_K = 5


# ---------------------------------------------------------------------------
# Decontamination: fraction of each corpus doc's distinct shingles that
# appear in the (same-language) eval set. Reference pipelines drop docs
# above a small overlap threshold before training.
# ---------------------------------------------------------------------------
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    eval_sh = (
        sh.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select("lang", "sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = sh.filter(F.col("doc_id") % EVAL_MOD != 0)
    flagged = corpus.join(F.broadcast(eval_sh), ["lang", "sh"], "left")
    agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("hit_ct"),
    )
    return agg.select(
        "doc_id",
        "n_sh",
        "hit_ct",
        (F.col("hit_ct").cast("double") / F.col("n_sh")).alias("contam_frac"),
        (
            F.lit(CONTAM_PCT_DEN) * F.col("hit_ct")
            >= F.lit(CONTAM_PCT_NUM) * F.col("n_sh")
        ).cast("int").alias("contaminated"),
    )


_DECONTAM_SQL = f"""
WITH {_SHINGLE_CTE},
eval_sh AS (
    SELECT DISTINCT lang, sh FROM sh WHERE doc_id % {EVAL_MOD} = 0
),
agg AS (
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_sh,
           CAST(count(e.sh) AS BIGINT) AS hit_ct
    FROM sh c
    LEFT JOIN eval_sh e ON c.lang = e.lang AND c.sh = e.sh
    WHERE c.doc_id % {EVAL_MOD} <> 0
    GROUP BY 1
)
SELECT doc_id, n_sh, hit_ct,
       CAST(hit_ct AS DOUBLE) / n_sh AS contam_frac,
       CAST({CONTAM_PCT_DEN} * hit_ct >= {CONTAM_PCT_NUM} * n_sh AS INTEGER)
           AS contaminated
FROM agg
"""


# ---------------------------------------------------------------------------
# Repetition filter: per-doc top-token share and distinct-token share
# (Gopher-style repetition rules re-expressed over whitespace tokens).
# ---------------------------------------------------------------------------
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tok_ct")
    )
    agg = per_tok.groupBy("doc_id").agg(
        F.sum("tok_ct").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("tok_ct").alias("top_ct"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_ct",
        (F.col("top_ct").cast("double") / F.col("n_tokens")).alias("top_ratio"),
        (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
            "distinct_ratio"
        ),
        (
            (
                F.lit(TOP_TOKEN_MAX_DEN) * F.col("top_ct")
                <= F.lit(TOP_TOKEN_MAX_NUM) * F.col("n_tokens")
            )
            & (
                F.lit(DISTINCT_MIN_DEN) * F.col("n_distinct")
                >= F.lit(DISTINCT_MIN_NUM) * F.col("n_tokens")
            )
        ).cast("int").alias("keep"),
    )


_REPETITION_SQL = f"""
WITH tok AS (
    SELECT doc_id, u.t AS tok
    FROM (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ts
        FROM documents
    ), UNNEST(ts) AS u(t)
),
per_tok AS (
    SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tok_ct
    FROM tok GROUP BY 1, 2
),
agg AS (
    SELECT doc_id,
           CAST(sum(tok_ct) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(max(tok_ct) AS BIGINT) AS top_ct
    FROM per_tok GROUP BY 1
)
SELECT doc_id, n_tokens, n_distinct, top_ct,
       CAST(top_ct AS DOUBLE) / n_tokens AS top_ratio,
       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
       CAST({TOP_TOKEN_MAX_DEN} * top_ct <= {TOP_TOKEN_MAX_NUM} * n_tokens
            AND {DISTINCT_MIN_DEN} * n_distinct >= {DISTINCT_MIN_NUM} * n_tokens
            AS INTEGER) AS keep
FROM agg
"""


# ---------------------------------------------------------------------------
# PII scrub: regex-pattern counts (emails here; phone/SSN patterns are the
# same shape) plus dictionary-term redaction; emits the redacted content
# hash so downstream exact-dedup runs on scrubbed text.
# ---------------------------------------------------------------------------
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("email_ct"),
        F.size(F.regexp_extract_all("text", F.lit(SCRUB_RE), F.lit(0)))
        .cast("bigint")
        .alias("term_ct"),
        F.md5(F.regexp_replace("text", SCRUB_RE, REDACTED)).alias(
            "redacted_md5"
        ),
    )


_PII_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT)
           AS email_ct,
       CAST(len(regexp_extract_all(text, '{SCRUB_RE}')) AS BIGINT)
           AS term_ct,
       md5(regexp_replace(text, '{SCRUB_RE}', '{REDACTED}', 'g'))
           AS redacted_md5
FROM documents
"""


# ---------------------------------------------------------------------------
# Context-window packing: sequential prefix-sum packing per language —
# doc d goes to pack floor(prefix_tokens_before_d / budget). One window
# shuffle per lang; deterministic (doc_id order); the streaming-friendly
# packing rule (no bin-packing backtracking, O(1) state per lang).
# ---------------------------------------------------------------------------
def doc_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.size(tokens("text")).cast("bigint").alias("tok_ct")
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    packed = docs.withColumn(
        "pack_id",
        F.floor(
            (F.sum("tok_ct").over(w) - F.col("tok_ct")) / F.lit(PACK_BUDGET)
        ).cast("bigint"),
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_ct").alias("tok_sum"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_PACK_SQL = f"""
WITH d AS (
    SELECT doc_id, lang,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                AS BIGINT) AS tok_ct
    FROM documents
),
packed AS (
    SELECT doc_id, lang, tok_ct,
           CAST(floor((sum(tok_ct) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - tok_ct)
                      / {PACK_BUDGET}) AS BIGINT) AS pack_id
    FROM d
)
SELECT lang, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok_ct) AS BIGINT) AS tok_sum,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM packed
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# kNN label vote: classify each query vector by the majority label of its
# KNN_K nearest corpus neighbors (brute-force cosine; ties -> higher vote
# count first, then smaller label).
# ---------------------------------------------------------------------------
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    # one scan carries vectors AND labels — no self-join on vec_id
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    q = emb.filter(F.col("vec_id") < NUM_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("score", cosine(F.col("qvec"), F.col("vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    topk = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= KNN_K
    )
    votes = topk.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("vote_ct")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("vote_ct").desc(), F.col("label")
    )
    return (
        votes.withColumn("vrn", F.row_number().over(wv))
        .filter(F.col("vrn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "vote_ct")
    )


_KNN_SQL = f"""
WITH emb AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, vec AS qvec
    FROM emb WHERE vec_id < {NUM_QUERY_VECS}
),
topk AS (
    SELECT query_id, label
    FROM (
        SELECT q.query_id, e.label,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_COSINE_SQL.format(a="q.qvec", b="e.vec")} DESC,
                            e.vec_id) AS rnk
        FROM emb e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ) WHERE rnk <= {KNN_K}
),
votes AS (
    SELECT query_id, label, CAST(count(*) AS BIGINT) AS vote_ct
    FROM topk GROUP BY 1, 2
)
SELECT query_id, label AS pred_label, vote_ct
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY vote_ct DESC, label) AS vrn
    FROM votes
) WHERE vrn = 1
"""


# ---------------------------------------------------------------------------
# Language-mix rebalancing: equalize the per-language document mix by
# sampling each language down to the smallest language's count — the data-derived
# mixture-weighting step (C4/CCNet-style) that precedes training. Sampling
# is a deterministic membership test (60-bit md5 fraction vs the source's
# rate), so re-runs and both engines agree exactly and the job needs no
# shuffle beyond the tiny per-source count aggregate (broadcast back).
# The expected kept count per source is min_ct +- sampling noise; the
# decision is per-document and reproducible, which is what matters for
# training-data lineage.
# ---------------------------------------------------------------------------
_HASH_DEN = float(1 << 60)


def lang_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("total_ct"))
    min_ct = counts.agg(F.min("total_ct").alias("min_ct"))
    h = (
        F.conv(F.substring(F.md5(F.concat_ws("|", "lang", "doc_id")), 1, 15), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(_HASH_DEN)
    )
    flagged = (
        docs.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(min_ct))
        .withColumn(
            "kept",
            (h * F.col("total_ct").cast("double")
             < F.col("min_ct").cast("double")).cast("int"),
        )
    )
    return flagged.groupBy("lang").agg(
        F.first("total_ct").alias("total_ct"),
        F.first("min_ct").alias("target_ct"),
        F.sum("kept").cast("bigint").alias("kept_ct"),
    )


_LANG_MIX_SQL = f"""
WITH counts AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS total_ct
    FROM documents GROUP BY 1
),
m AS (SELECT min(total_ct) AS min_ct FROM counts),
flagged AS (
    SELECT d.lang, c.total_ct, m.min_ct,
           CASE WHEN (CAST(TRY_CAST('0x' || substr(
                        md5(d.lang || '|' || CAST(d.doc_id AS VARCHAR)),
                        1, 15) AS BIGINT) AS DOUBLE) / {_HASH_DEN})
                     * CAST(c.total_ct AS DOUBLE)
                     < CAST(m.min_ct AS DOUBLE)
                THEN 1 ELSE 0 END AS kept
    FROM documents d
    JOIN counts c ON d.lang = c.lang
    CROSS JOIN m
)
SELECT lang,
       any_value(total_ct) AS total_ct,
       any_value(min_ct) AS target_ct,
       CAST(sum(kept) AS BIGINT) AS kept_ct
FROM flagged
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Temperature-weighted domain mixture: sample each source's documents so the
# final mix follows count^alpha with alpha = 0.5 (the multilingual/domain
# rebalancing rule — small domains up-weighted relative to their share,
# cf. the sampling-temperature scheme in multilingual pretraining). Weights
# use sqrt (IEEE754 correctly rounded, so both engines agree bit-for-bit),
# floored to integer micro-units BEFORE the normalizing sum so the
# denominator is exact bigint; per-source targets are pure integer division;
# membership is the same deterministic md5-fraction test as
# `lang_mix_rebalance`. One tiny per-source aggregate broadcast back over
# one corpus scan — no corpus shuffle at any size.
# THE sqrt-temperature formula lives in exactly two shared places —
# `_sqrt_targets`/`_mixture_keep_pred` (Spark) and `_mixture_sql_ctes`
# (DuckDB) — consumed by both `domain_mixture_temperature` and
# `pretrain_data_recipe`, so the two queries cannot drift apart.
# ---------------------------------------------------------------------------
MIX_SAMPLE_TOTAL = 200  # target docs across all sources


def _sqrt_targets(counts: DataFrame, sample_total: int) -> DataFrame:
    """source, total_ct -> + w_micro (floor(1e6*sqrt(ct))) + target_ct."""
    weighted = counts.withColumn(
        "w_micro",
        F.expr(
            "CAST(floor(sqrt(CAST(total_ct AS DOUBLE)) * 1000000.0)"
            " AS BIGINT)"
        ),
    )
    tot = weighted.agg(F.sum("w_micro").alias("tot_w"))
    return weighted.crossJoin(F.broadcast(tot)).withColumn(
        "target_ct", F.expr(f"({sample_total} * w_micro) div tot_w")
    )


def _mixture_keep_pred():
    """Deterministic membership: md5-fraction(source|doc_id) * ct < target."""
    h = (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", "source", "doc_id")), 1, 15),
            16,
            10,
        )
        .cast("bigint")
        .cast("double")
        / F.lit(_HASH_DEN)
    )
    return h * F.col("total_ct").cast("double") < F.col("target_ct").cast(
        "double"
    )


def _mixture_sql_ctes(src: str, sample_total: int) -> str:
    """DuckDB twin of _sqrt_targets: CTEs counts/weighted/tot/targets over
    relation `src` (which must expose source, doc_id)."""
    return f"""counts AS (
    SELECT source, CAST(count(*) AS BIGINT) AS total_ct
    FROM {src} GROUP BY 1
),
weighted AS (
    SELECT source, total_ct,
           CAST(floor(sqrt(CAST(total_ct AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS w_micro
    FROM counts
),
tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS tot_w FROM weighted),
targets AS (
    SELECT w.source, w.total_ct, w.w_micro,
           ({sample_total} * w.w_micro) // t.tot_w AS target_ct
    FROM weighted w CROSS JOIN tot t
)"""


# SQL twin of _mixture_keep_pred — alias table of the doc row as `d`, the
# targets row as `g`.
_MIXTURE_KEEP_SQL = f"""(CAST(TRY_CAST('0x' || substr(
                        md5(d.source || '|' || CAST(d.doc_id AS VARCHAR)),
                        1, 15) AS BIGINT) AS DOUBLE) / {_HASH_DEN})
                     * CAST(g.total_ct AS DOUBLE)
                     < CAST(g.target_ct AS DOUBLE)"""


def domain_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_ct")
    )
    targets = _sqrt_targets(counts, MIX_SAMPLE_TOTAL)
    flagged = docs.join(F.broadcast(targets), "source").withColumn(
        "kept", _mixture_keep_pred().cast("int")
    )
    return flagged.groupBy("source").agg(
        F.first("total_ct").alias("total_ct"),
        F.first("w_micro").alias("w_micro"),
        F.first("target_ct").alias("target_ct"),
        F.sum("kept").cast("bigint").alias("kept_ct"),
    )


_MIXTURE_SQL = f"""
WITH {_mixture_sql_ctes("documents", MIX_SAMPLE_TOTAL)},
flagged AS (
    SELECT d.source, g.total_ct, g.w_micro, g.target_ct,
           CASE WHEN {_MIXTURE_KEEP_SQL}
                THEN 1 ELSE 0 END AS kept
    FROM documents d
    JOIN targets g ON d.source = g.source
)
SELECT source,
       any_value(total_ct) AS total_ct,
       any_value(w_micro) AS w_micro,
       any_value(target_ct) AS target_ct,
       CAST(sum(kept) AS BIGINT) AS kept_ct
FROM flagged
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# End-to-end pretraining-data recipe: the operators CHAINED the way a
# production corpus build runs them — quality gate -> exact dedup ->
# cross-document span dedup (drop docs that are >= half duplicated spans)
# -> temperature-weighted source sampling — with ONE funnel oracle over the
# whole composition (stage, surviving docs, surviving tokens), so a drift
# at any stage boundary breaks the gate. Every stage is the SHARED
# primitive, not a copy: quality gate + exact dedup from
# `llm_ops.quality_gate`/`exact_dedup_first` (and their SQL CTE twin),
# span width from `retrieval.SPAN_W`, mixture from `_sqrt_targets`/
# `_mixture_keep_pred` — tuning any threshold retunes both the standalone
# query and this composition. Scale: every frame that feeds two consumers
# (docs -> funnel+q, q -> funnel+kept, kept -> spans+survivors+funnel,
# spans -> span_df+flags, survivors -> counts+sampled+funnel) is
# persisted, so the corpus scan and each derived stage materialize once.
# ---------------------------------------------------------------------------
def pretrain_data_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.llm_ops import (
        exact_dedup_first,
        quality_gate,
    )
    from realtimedatawarehouse_self_spark.plans.retrieval import SPAN_W

    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text")).persist()
    q = quality_gate(docs).persist()
    kept = exact_dedup_first(q).persist()
    spans = kept.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(tok_arr) < {SPAN_W} THEN array() "
                f"ELSE transform(sequence(0, (size(tok_arr) div {SPAN_W}) - 1), "
                f"i -> md5(array_join(slice(tok_arr, i * {SPAN_W} + 1, "
                f"{SPAN_W}), ' '))) END"
            )
        ).alias("h"),
    ).persist()
    span_df = (
        spans.distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("span_docs"))
    )
    flags = (
        spans.join(span_df, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum((F.col("span_docs") >= 2).cast("bigint")).alias("dup_spans"),
        )
    )
    # drop iff >= half the doc's spans are cross-document duplicates
    # (docs too short to have spans pass through: left join, null-safe)
    survivors = (
        kept.join(flags, "doc_id", "left")
        .filter(
            F.col("n_spans").isNull()
            | (2 * F.col("dup_spans") < F.col("n_spans"))
        )
        .persist()
    )
    counts = survivors.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_ct")
    )
    targets = _sqrt_targets(counts, MIX_SAMPLE_TOTAL)
    sampled = survivors.join(F.broadcast(targets), "source").filter(
        _mixture_keep_pred()
    )

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(F.size("tok_arr").cast("bigint")), F.lit(0))
            .cast("bigint")
            .alias("total_tokens"),
        )

    out = stage("00_raw", docs)
    for name, df in (
        ("01_quality", q),
        ("02_exact_dedup", kept),
        ("03_span_dedup", survivors),
        ("04_mixture_sample", sampled),
    ):
        out = out.unionByName(stage(name, df))
    return out


def _recipe_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.llm_ops import quality_sql_ctes
    from realtimedatawarehouse_self_spark.plans.retrieval import SPAN_W

    return f"""
WITH {quality_sql_ctes(extra_cols="source")},
spans AS (
    SELECT doc_id,
           md5(array_to_string(
               t[(i * {SPAN_W} + 1):(i * {SPAN_W} + {SPAN_W})],
               ' ')) AS h
    FROM kept,
         UNNEST(range(0, greatest(len(t) // {SPAN_W}, 0))) AS u(i)
    WHERE len(t) >= {SPAN_W}
),
span_df AS (
    SELECT h, CAST(count(*) AS BIGINT) AS span_docs
    FROM (SELECT DISTINCT doc_id, h FROM spans) GROUP BY 1
),
flags AS (
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN d.span_docs >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS dup_spans
    FROM spans s JOIN span_df d USING (h)
    GROUP BY 1
),
survivors AS (
    SELECT kept.* FROM kept
    LEFT JOIN flags USING (doc_id)
    WHERE flags.n_spans IS NULL OR 2 * flags.dup_spans < flags.n_spans
),
{_mixture_sql_ctes("survivors", MIX_SAMPLE_TOTAL)},
sampled AS (
    SELECT d.* FROM survivors d
    JOIN targets g ON d.source = g.source
    WHERE {_MIXTURE_KEEP_SQL}
)
SELECT '00_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(len(t)), 0) AS BIGINT) AS total_tokens FROM tok
UNION ALL
SELECT '01_quality', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(t)), 0) AS BIGINT) FROM q
UNION ALL
SELECT '02_exact_dedup', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(t)), 0) AS BIGINT) FROM kept
UNION ALL
SELECT '03_span_dedup', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(t)), 0) AS BIGINT) FROM survivors
UNION ALL
SELECT '04_mixture_sample', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(t)), 0) AS BIGINT) FROM sampled
"""


# ---------------------------------------------------------------------------
# Longest contaminated run — decontaminate_ngram_overlap's big sibling:
# the FRACTION of eval-hit shingles misses the difference between many
# scattered common trigrams (benign) and one long verbatim eval passage
# (fatal); eval-suite decontamination rules key on the longest CONTIGUOUS
# match. Positional shingles (posexplode, not the distinct frame) feed the
# same broadcast eval join, then the classic islands trick — consecutive
# hit positions share (pos − row_number) — turns longest-run into one
# window + one combine. Per-doc output; longest_run is in shingles
# (token span = run + SHINGLE_N − 1).
#
# Scale: the eval shingle set is broadcast exactly as decontaminate's; the
# islands window partitions by doc_id (per-doc shingle counts are
# document-length-bounded), so state is flat at any corpus size.
# ---------------------------------------------------------------------------
def contamination_longest_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.functions.exprs import word_shingles

    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    psh = docs.select(
        "doc_id",
        "lang",
        F.posexplode(word_shingles(F.col("tok_arr"))).alias("i", "sh"),
    )
    eval_sh = (
        psh.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select("lang", "sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = psh.filter(F.col("doc_id") % EVAL_MOD != 0)
    # flagged feeds BOTH the per-doc totals and the hit-islands window, so
    # the tokenize+posexplode+broadcast-join subtree executes twice — a
    # DELIBERATE recompute, not an oversight: the subtree is map-only
    # (no shuffle), and materializing a corpus-sized positional-shingle
    # frame costs more than re-running embarrassingly-parallel scan work
    # at any scale (measured: persisting it is 0.99 s vs 0.77 s at sf0.1,
    # and at 100 TB the cache would be larger than the corpus itself —
    # the persist idiom is reserved for frames that are SMALL relative to
    # their recompute, like lang_confusion's cells).
    flagged = corpus.join(F.broadcast(eval_sh), ["lang", "sh"], "left")
    totals = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("hit_ct"),
    )
    hits = flagged.filter(F.col("hit") == 1)
    wrn = Window.partitionBy("doc_id").orderBy("i")
    runs = (
        hits.withColumn("grp", F.col("i") - F.row_number().over(wrn))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").alias("longest_run"))
    )
    return totals.join(runs, "doc_id", "left").select(
        "doc_id",
        "n_sh",
        "hit_ct",
        F.coalesce("longest_run", F.lit(0)).cast("bigint").alias(
            "longest_run"
        ),
    )


_LONGEST_MATCH_SQL = f"""
WITH tok AS (
    SELECT doc_id, lang,
           list_filter(string_split(text, ' '), x -> x <> '') AS t
    FROM documents
),
psh AS (
    SELECT doc_id, lang, CAST(i AS BIGINT) AS i,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
    FROM tok, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
),
eval_sh AS (
    SELECT DISTINCT lang, sh FROM psh WHERE doc_id % {EVAL_MOD} = 0
),
flagged AS (
    SELECT c.doc_id, c.i,
           CASE WHEN e.sh IS NULL THEN 0 ELSE 1 END AS hit
    FROM psh c
    LEFT JOIN eval_sh e ON c.lang = e.lang AND c.sh = e.sh
    WHERE c.doc_id % {EVAL_MOD} <> 0
),
totals AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_sh,
           CAST(sum(hit) AS BIGINT) AS hit_ct
    FROM flagged GROUP BY 1
),
runs AS (
    SELECT doc_id, CAST(max(run_len) AS BIGINT) AS longest_run
    FROM (
        SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run_len
        FROM (
            SELECT doc_id, i,
                   i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
                       AS grp
            FROM flagged WHERE hit = 1
        )
        GROUP BY 1, 2
    )
    GROUP BY 1
)
SELECT t.doc_id, t.n_sh, t.hit_ct,
       CAST(coalesce(r.longest_run, 0) AS BIGINT) AS longest_run
FROM totals t LEFT JOIN runs r ON t.doc_id = r.doc_id
"""


# ---------------------------------------------------------------------------
# Split-leakage audit — decontamination applied to the engine's OWN
# splitter: what fraction of each val/test document's distinct shingles
# also occurs in the TRAIN split? Train/test contamination through
# near-duplicate text is the classic silent eval-inflation bug; a split
# is only trustworthy after this number is known (the same
# audit-your-own-artifact doctrine as `lsh_recall_audit` auditing the
# dedup family's sketch). Split membership reuses corpus_split_assign's
# exact salted-hash rule, so the audit can never drift from the splitter.
#
# Scale shape: shingles of train docs collapse to a DISTINCT (lang, sh)
# set — vocabulary-bounded, orders below corpus size, hence the broadcast
# (drop the hint past broadcast size and AQE shuffles both sides on the
# (lang, sh) key; the held-out side is the small one by construction).
# Output is 2 rows (val, test): exactly the go/no-go dashboard a
# training run reads before trusting its eval numbers.
# ---------------------------------------------------------------------------
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.llm_ops import (
        TRAIN_BP,
        VAL_BP,
        _hash_bp,
    )

    sh = _doc_shingles(spark, sf_dir)
    bp = _hash_bp(F.col("doc_id"), salt="split:")
    tagged = sh.withColumn(
        "split",
        F.when(bp < TRAIN_BP, "train")
        .when(bp < VAL_BP, "val")
        .otherwise("test"),
    )
    train_sh = (
        tagged.filter(F.col("split") == "train")
        .select("lang", "sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    held = tagged.filter(F.col("split") != "train")
    per_doc = (
        held.join(F.broadcast(train_sh), ["lang", "sh"], "left")
        .groupBy("split", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sh"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("hit_ct"),
        )
    )
    return per_doc.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_sh").cast("bigint").alias("n_shingles"),
        F.sum("hit_ct").cast("bigint").alias("leaked_shingles"),
        F.sum(
            F.when(
                F.lit(CONTAM_PCT_DEN) * F.col("hit_ct")
                >= F.lit(CONTAM_PCT_NUM) * F.col("n_sh"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("leaked_docs"),
        F.expr("CAST(sum(hit_ct) * 1000000 div sum(n_sh) AS BIGINT)").alias(
            "leak_micro"
        ),
    )


def _split_leakage_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.llm_ops import (
        TRAIN_BP,
        VAL_BP,
        _sql_hash_bp,
    )

    bp = _sql_hash_bp("doc_id", salt="split:")
    return f"""
WITH {_SHINGLE_CTE},
tagged AS (
    SELECT doc_id, lang, sh,
           CASE WHEN {bp} < {TRAIN_BP} THEN 'train'
                WHEN {bp} < {VAL_BP} THEN 'val'
                ELSE 'test' END AS split
    FROM sh
),
train_sh AS (
    SELECT DISTINCT lang, sh FROM tagged WHERE split = 'train'
),
per_doc AS (
    SELECT h.split, h.doc_id,
           CAST(count(*) AS BIGINT) AS n_sh,
           CAST(count(t.sh) AS BIGINT) AS hit_ct
    FROM tagged h
    LEFT JOIN train_sh t ON h.lang = t.lang AND h.sh = t.sh
    WHERE h.split <> 'train'
    GROUP BY 1, 2
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_sh) AS BIGINT) AS n_shingles,
       CAST(sum(hit_ct) AS BIGINT) AS leaked_shingles,
       CAST(sum(CASE WHEN {CONTAM_PCT_DEN} * hit_ct
                          >= {CONTAM_PCT_NUM} * n_sh
                     THEN 1 ELSE 0 END) AS BIGINT) AS leaked_docs,
       CAST(sum(hit_ct) * 1000000 // sum(n_sh) AS BIGINT) AS leak_micro
FROM per_doc
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# N-gram novelty rate — the corpus-growth diversity curve: for each doc
# (in doc_id ingestion order), the fraction of its distinct shingles that
# NO earlier doc contains. A crawl pipeline tracks this to decide when a
# source is exhausted (novelty decays toward 0 as snapshots repeat); it is
# the longitudinal complement of pairwise dedup.
#
# One pass: min(doc_id) per (lang, shingle) via the same combine the
# dedup family uses, then novel = (first_doc = doc_id). No self-join, no
# window over the corpus — the shingle frame shuffles ONCE on its natural
# key. Day-bucketed output (doc_id ranges as cohorts of DOC_COHORT docs)
# keeps the result dashboard-sized at any corpus scale.
# ---------------------------------------------------------------------------
DOC_COHORT = 100  # docs per novelty cohort bucket


def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    first = sh.groupBy("lang", "sh").agg(F.min("doc_id").alias("first_doc"))
    flagged = sh.join(first, ["lang", "sh"]).select(
        "doc_id",
        (F.col("first_doc") == F.col("doc_id")).cast("bigint").alias("novel"),
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh"),
        F.sum("novel").cast("bigint").alias("novel_ct"),
    )
    return (
        per_doc.groupBy(
            F.expr(f"doc_id div {DOC_COHORT}").cast("bigint").alias("cohort")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_sh").cast("bigint").alias("n_shingles"),
            F.sum("novel_ct").cast("bigint").alias("novel_shingles"),
            F.expr(
                "CAST(sum(novel_ct) * 1000000 div sum(n_sh) AS BIGINT)"
            ).alias("novelty_micro"),
        )
    )


_NOVELTY_SQL = f"""
WITH {_SHINGLE_CTE},
first AS (
    SELECT lang, sh, min(doc_id) AS first_doc FROM sh GROUP BY 1, 2
),
per_doc AS (
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_sh,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_ct
    FROM sh s JOIN first f ON s.lang = f.lang AND s.sh = f.sh
    GROUP BY 1
)
SELECT CAST(doc_id // {DOC_COHORT} AS BIGINT) AS cohort,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_sh) AS BIGINT) AS n_shingles,
       CAST(sum(novel_ct) AS BIGINT) AS novel_shingles,
       CAST(sum(novel_ct) * 1000000 // sum(n_sh) AS BIGINT) AS novelty_micro
FROM per_doc
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Weighted priority sample — the weighted companion of the unweighted
# samplers (`stratified_sample_corpus` rate-Bernoulli, `eval_slice_sample_
# exact` fixed-K uniform): per language, keep the K docs with the smallest
# hash-priority  h(doc) div weight  where weight = n_chars. This is the
# integer "uniform race" scheme: for the winning (smallest) priorities,
# P(h div w < t) ~ t*w / 2^60, so selection probability is approximately
# proportional to weight — the deterministic, RNG-free stand-in for
# Efraimidis-Spirakis A-ES (whose u^(1/w) keys need pow(), outside the
# cross-engine-exact op set). Reproducible from the table alone; its own
# salt ("wpri:") decorrelates it from the split/sample/eval-slice hashes.
#
# Scale: rank <= K over the priority ordering compiles to WindowGroupLimit
# (per-partition top-K, never a full per-language sort); the per-lang
# weight totals are a #langs-row broadcast. One scan, one bounded shuffle.
# ---------------------------------------------------------------------------
WPRI_K = 5
_WPRI_MOD = 1 << 60


def weighted_sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.greatest(F.col("n_chars"), F.lit(1)).alias("weight")
    )
    pri = docs.withColumn(
        "priority",
        F.expr(
            "CAST(conv(substring(md5(concat('wpri:', CAST(doc_id AS STRING))),"
            " 1, 15), 16, 10) AS BIGINT) div weight"
        ),
    )
    totals = pri.groupBy("lang").agg(
        F.sum("weight").cast("bigint").alias("lang_weight")
    )
    w = Window.partitionBy("lang").orderBy(F.col("priority"), F.col("doc_id"))
    return (
        pri.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= WPRI_K)
        .join(F.broadcast(totals), "lang")
        .select(
            "lang",
            F.col("rnk").cast("int").alias("rnk"),
            "doc_id",
            "weight",
            "priority",
            F.expr("CAST(weight * 1000000 div lang_weight AS BIGINT)").alias(
                "weight_share_ppm"
            ),
        )
    )


_WPRI_SQL = f"""
WITH pri AS (
    SELECT doc_id, lang, greatest(n_chars, 1) AS weight,
           TRY_CAST('0x' || substr(md5('wpri:' || CAST(doc_id AS VARCHAR)),
                    1, 15) AS BIGINT) // greatest(n_chars, 1) AS priority
    FROM documents
),
totals AS (
    SELECT lang, CAST(sum(weight) AS BIGINT) AS lang_weight
    FROM pri GROUP BY 1
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY lang
                                 ORDER BY priority, doc_id) AS rnk
    FROM pri
)
SELECT r.lang, CAST(r.rnk AS INTEGER) AS rnk, r.doc_id, r.weight, r.priority,
       CAST(r.weight * 1000000 // t.lang_weight AS BIGINT)
           AS weight_share_ppm
FROM ranked r JOIN totals t ON r.lang = t.lang
WHERE r.rnk <= {WPRI_K}
"""


# ---------------------------------------------------------------------------
# Sequence-length bucketing — the dynamic-batching efficiency audit: pad
# each document to the next power-of-two token length (the bucketed-batch
# policy every training loader uses) and measure the padding waste per
# bucket against the worst-case pad-to-global-max policy. The pow-2
# ceiling is exact integer bit arithmetic (2^bitlength(ct-1), via the
# same engine-identical length(bin(x)) primitive as the HLL rank), so no
# float log2 anywhere. One combine-backed scan to per-doc token counts,
# one |buckets|-sized aggregate, global max broadcast back.
# ---------------------------------------------------------------------------
def sequence_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.size(tokens("text")).cast("bigint").alias("tok_ct")
    ).filter(F.col("tok_ct") > 0)
    bucketed = docs.select(
        "tok_ct",
        F.expr(
            "CASE WHEN tok_ct = 1 THEN CAST(1 AS BIGINT)"
            " ELSE shiftleft(CAST(1 AS BIGINT), length(bin(tok_ct - 1)))"
            " END"
        ).alias("bucket"),
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok_ct").cast("bigint").alias("sum_tokens"),
    )
    glob = per_bucket.agg(
        F.max("bucket").cast("bigint").alias("max_bucket"),
        F.sum("sum_tokens").cast("bigint").alias("tot_tokens"),
        F.sum("n_docs").cast("bigint").alias("tot_docs"),
    )
    return (
        per_bucket.crossJoin(F.broadcast(glob))
        .select(
            "bucket",
            "n_docs",
            "sum_tokens",
            F.expr("bucket * n_docs - sum_tokens")
            .cast("bigint")
            .alias("pad_tokens"),
            F.expr(
                "CAST((bucket * n_docs - sum_tokens) * 1000000"
                " div (bucket * n_docs) AS BIGINT)"
            ).alias("bucket_waste_ppm"),
            F.expr(
                "CAST((max_bucket * n_docs - sum_tokens) * 1000000"
                " div (max_bucket * n_docs) AS BIGINT)"
            ).alias("global_pad_waste_ppm"),
        )
    )


_SEQ_BUCKET_SQL = """
WITH docs AS (
    SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
           AS BIGINT) AS tok_ct
    FROM documents
),
bucketed AS (
    SELECT tok_ct,
           CASE WHEN tok_ct = 1 THEN CAST(1 AS BIGINT)
                ELSE CAST(1 AS BIGINT) << length(bin(tok_ct - 1)) END
               AS bucket
    FROM docs WHERE tok_ct > 0
),
per_bucket AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok_ct) AS BIGINT) AS sum_tokens
    FROM bucketed GROUP BY 1
),
gstats AS (
    SELECT CAST(max(bucket) AS BIGINT) AS max_bucket FROM per_bucket
)
SELECT bucket, n_docs, sum_tokens,
       CAST(bucket * n_docs - sum_tokens AS BIGINT) AS pad_tokens,
       CAST((bucket * n_docs - sum_tokens) * 1000000 // (bucket * n_docs)
            AS BIGINT) AS bucket_waste_ppm,
       CAST((g.max_bucket * n_docs - sum_tokens) * 1000000
            // (g.max_bucket * n_docs) AS BIGINT) AS global_pad_waste_ppm
FROM per_bucket, gstats g
"""


# ---------------------------------------------------------------------------
# Importance-weighted data selection (DSIR-lite; Xie et al., "Data
# Selection for Language Models via Importance Resampling", NeurIPS'23,
# re-expressed log-free): score every document by how target-like its
# unigram distribution is — the per-token smoothed frequency ODDS
#   odds(w) = ((target_ct(w)+1) / (T_tot+V)) / ((raw_ct(w)+1) / (R_tot+V))
# averaged over the document's token occurrences (DSIR sums log-odds;
# the arithmetic mean of exact micro odds is the engine's deterministic
# monotone stand-in — both engines floor identically, no float logs) —
# then select the above-median half and report the per-source yield:
# the skew table a mixture designer reads ("which sources survive
# en-targeted selection").
#
# Scale shape: corpus collapses to a (word, target_ct, raw_ct) vocab
# frame (one combine shuffle, |vocab|-bounded) with the 1-row totals
# broadcast-crossed in; scoring is explode -> vocab join (dimension-like
# at any corpus size) -> per-doc combine; the threshold is ONE global
# lower-median order-statistic pick ((score, doc_id) total order);
# per-source rollup is |sources| rows. Odds products ride
# DECIMAL(38,0)/HUGEINT (target_ct·R_tot exceeds BIGINT at 100 TB).
# ---------------------------------------------------------------------------
DSIR_TARGET_LANG = "en"


def _dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR per-document importance weights (doc_id, source,
    score_micro) — shared by the selection roll-up below and the ESS
    diagnostic (`curation.importance_weight_ess`)."""
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    occ = docs.select(
        "doc_id", "source", "lang", F.explode(tokens("text")).alias("word")
    )
    # no persist on vocab (r11 persist A/B, 2 cycles over {vocab, scores}:
    # keeping only the scores persist measured 2.47/1.68 s vs 3.27/1.95 s
    # with vocab kept) — the word aggregate is an exchange boundary, so
    # its two consumers (totals + odds) share one ReusedExchange
    # evaluation; caching it only adds materialization on a vocab-sized
    # frame
    vocab = occ.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("raw_ct"),
        F.sum(
            F.expr(
                f"CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("target_ct"),
    )
    totals = vocab.agg(
        F.sum("raw_ct").cast("bigint").alias("r_tot"),
        F.sum("target_ct").cast("bigint").alias("t_tot"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    odds = vocab.crossJoin(F.broadcast(totals)).select(
        "word",
        F.expr(
            "CAST(CAST(target_ct + 1 AS DECIMAL(38,0)) * (r_tot + v)"
            " * 1000000 div (CAST(raw_ct + 1 AS DECIMAL(38,0))"
            " * (t_tot + v)) AS BIGINT)"
        ).alias("odds_micro"),
    )
    return (
        occ.join(odds, "word")
        .groupBy("doc_id", "source")
        .agg(
            F.expr("CAST(sum(odds_micro) div count(*) AS BIGINT)").alias(
                "score_micro"
            )
        )
        .persist()
    )


def importance_weight_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = _dsir_scores(spark, sf_dir)
    n_docs = scores.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.orderBy("score_micro", "doc_id")
    thr = (
        scores.crossJoin(F.broadcast(n_docs))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.expr("rn = (n + 1) div 2"))
        .select(F.col("score_micro").alias("thr"))
    )
    return (
        scores.crossJoin(F.broadcast(thr))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.expr("CASE WHEN score_micro >= thr THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_selected"),
            F.expr("CAST(sum(score_micro) div count(*) AS BIGINT)").alias(
                "avg_score_micro"
            ),
        )
        .withColumn(
            "sel_ppm",
            F.expr("CAST(n_selected * 1000000 div n_docs AS BIGINT)"),
        )
    )


# The DSIR weight-building CTE chain (occ -> vocab -> totals -> odds ->
# scores) — shared verbatim by the selection oracle below and the ESS
# oracle in plans/curation.py so the two cannot drift.
_DSIR_SCORES_CTE = f"""occ AS (
    SELECT doc_id, source, lang, unnest(list_filter(
               string_split(text, ' '), x -> x <> '')) AS word
    FROM documents
    WHERE text IS NOT NULL
),
vocab AS (
    SELECT word,
           CAST(count(*) AS BIGINT) AS raw_ct,
           CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                AS BIGINT) AS target_ct
    FROM occ GROUP BY 1
),
totals AS (
    SELECT CAST(sum(raw_ct) AS BIGINT) AS r_tot,
           CAST(sum(target_ct) AS BIGINT) AS t_tot,
           CAST(count(*) AS BIGINT) AS v
    FROM vocab
),
odds AS (
    SELECT word,
           CAST(CAST(target_ct + 1 AS HUGEINT) * (r_tot + v) * 1000000
                // (CAST(raw_ct + 1 AS HUGEINT) * (t_tot + v))
                AS BIGINT) AS odds_micro
    FROM vocab, totals
),
scores AS (
    SELECT o.doc_id, o.source,
           CAST(sum(d.odds_micro) // count(*) AS BIGINT) AS score_micro
    FROM occ o JOIN odds d USING (word)
    GROUP BY 1, 2
)"""

_DSIR_SQL = f"""
WITH {_DSIR_SCORES_CTE},
thr AS (
    SELECT score_micro AS thr
    FROM (
        SELECT score_micro,
               row_number() OVER (ORDER BY score_micro, doc_id) AS rn,
               count(*) OVER () AS n
        FROM scores
    )
    WHERE rn = (n + 1) // 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN score_micro >= t.thr THEN 1 ELSE 0 END)
            AS BIGINT) AS n_selected,
       CAST(sum(score_micro) // count(*) AS BIGINT) AS avg_score_micro,
       CAST(sum(CASE WHEN score_micro >= t.thr THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS sel_ppm
FROM scores, thr t
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Simpson vocabulary concentration — the corpus-level diversity gauge
# (Simpson '49): lambda = sum_w f_w(f_w-1) / (N(N-1)) is the exact
# probability two token draws (without replacement) are the same word —
# the log-free counterpart of entropy the engine's integer doctrine
# allows, and the number a mixture designer watches to catch a source
# collapsing onto template text (lambda up = diversity down). Also emits
# the effective vocabulary size 1/lambda (floored). Complements
# `doc_lexical_diversity` (per-document TTR): this is the per-LANGUAGE
# corpus statistic. One token-explode -> (lang, word) combine (vocab-
# bounded), one per-lang roll-up; products ride DECIMAL(38,0)/HUGEINT
# (N^2 exceeds BIGINT at ~3e9 tokens per language).
# ---------------------------------------------------------------------------
def vocab_concentration_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    wl = (
        docs.select("lang", F.explode(tokens("text")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    return (
        wl.groupBy("lang")
        .agg(
            F.sum("f").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
            F.sum(F.expr("CAST(f AS DECIMAL(38,0)) * (f - 1)")).alias("_coll"),
        )
        .filter(F.col("n_tokens") >= 2)
        .select(
            "lang",
            "n_tokens",
            "n_vocab",
            F.expr(
                "CAST(CAST(_coll AS DECIMAL(38,0)) * 1000000"
                " div (CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1))"
                " AS BIGINT)"
            ).alias("simpson_micro"),
            F.expr(
                "CASE WHEN _coll = 0 THEN CAST(-1 AS BIGINT)"
                " ELSE CAST(CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1)"
                " div _coll AS BIGINT) END"
            ).alias("effective_vocab"),
        )
    )


_SIMPSON_SQL = """
WITH wl AS (
    SELECT lang, unnest(list_filter(string_split(text, ' '),
               x -> x <> '')) AS word
    FROM documents
    WHERE text IS NOT NULL AND lang IS NOT NULL
),
f AS (
    SELECT lang, word, CAST(count(*) AS BIGINT) AS f
    FROM wl GROUP BY 1, 2
),
agg AS (
    SELECT lang,
           CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_vocab,
           sum(CAST(f AS HUGEINT) * (f - 1)) AS coll
    FROM f GROUP BY 1
)
SELECT lang, n_tokens, n_vocab,
       CAST(CAST(coll AS HUGEINT) * 1000000
            // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
            AS BIGINT) AS simpson_micro,
       CASE WHEN coll = 0 THEN CAST(-1 AS BIGINT)
            ELSE CAST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1) // coll
                 AS BIGINT) END AS effective_vocab
FROM agg
WHERE n_tokens >= 2
"""


# ---------------------------------------------------------------------------
# Quality-filter ablation matrix — the interaction audit a curation team
# runs before COMPOSING filters: each of the 2^3 on/off combinations of
# the three standing quality rules (length floor, stopword-density cap,
# lexical-diversity floor — the same integer-exact predicates
# text_quality_score / repetition_filter / the kappa annotators use) is
# evaluated over the whole corpus in ONE pass, reporting document and
# token yield. The marginal columns answer "what does filter X remove
# that the others didn't already" — the number that decides whether a
# filter earns its false-positive cost. Per-row flags are pure codegen;
# the 8-way evaluation is an in-row explode of the mask domain (x8 rows,
# constant), then one 8-key combine. Output: exactly 8 rows at any
# corpus size.
# ---------------------------------------------------------------------------
ABL_MIN_TOKENS = 20  # F1: length floor
ABL_STOP_DEN = 4  # F2: keep iff stopword_ct * 4 <= n_tokens
ABL_DIV_NUM, ABL_DIV_DEN = 3, 10  # F3: keep iff 10*distinct >= 3*tokens


def filter_ablation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.llm_ops import STOPWORDS

    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    docs = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .withColumn("tok_arr", tokens("text"))
        .select(
            F.expr("CAST(size(tok_arr) AS BIGINT)").alias("n_tok"),
            F.expr(
                f"CASE WHEN size(tok_arr) >= {ABL_MIN_TOKENS}"
                " THEN 1 ELSE 0 END"
            ).alias("f1"),
            F.expr(
                f"CASE WHEN size(filter(tok_arr,"
                f" x -> array_contains(array({stop_arr}), x)))"
                f" * {ABL_STOP_DEN} <= size(tok_arr) THEN 1 ELSE 0 END"
            ).alias("f2"),
            F.expr(
                f"CASE WHEN size(array_distinct(tok_arr)) * {ABL_DIV_DEN}"
                f" >= size(tok_arr) * {ABL_DIV_NUM} THEN 1 ELSE 0 END"
            ).alias("f3"),
        )
    )
    totals = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )
    masked = docs.select(
        "n_tok",
        "f1",
        "f2",
        "f3",
        F.explode(F.expr("sequence(0, 7)")).alias("mask"),
    ).withColumn(
        "keep",
        F.expr(
            "CASE WHEN (mask & 1 = 0 OR f1 = 1)"
            " AND (mask & 2 = 0 OR f2 = 1)"
            " AND (mask & 4 = 0 OR f3 = 1) THEN 1 ELSE 0 END"
        ),
    )
    return (
        masked.groupBy("mask")
        .agg(
            F.sum("keep").cast("bigint").alias("n_docs_kept"),
            F.sum(F.expr("keep * n_tok")).cast("bigint").alias("tokens_kept"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("mask").cast("bigint").alias("mask"),
            F.expr(
                "concat(CASE WHEN mask & 1 = 1 THEN 'L' ELSE '-' END,"
                " CASE WHEN mask & 2 = 2 THEN 'S' ELSE '-' END,"
                " CASE WHEN mask & 4 = 4 THEN 'D' ELSE '-' END)"
            ).alias("filters"),
            "n_docs_kept",
            "tokens_kept",
            F.expr(
                "CAST(n_docs_kept * 1000000 div nullif(total_docs, 0)"
                " AS BIGINT)"
            ).alias("doc_keep_ppm"),
            F.expr(
                "CAST(CAST(tokens_kept AS DECIMAL(38,0)) * 1000000"
                " div nullif(total_tokens, 0) AS BIGINT)"
            ).alias("token_keep_ppm"),
        )
    )


def _ablation_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.llm_ops import STOPWORDS

    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH flagged AS (
    SELECT CAST(len(toks) AS BIGINT) AS n_tok,
           CASE WHEN len(toks) >= {ABL_MIN_TOKENS} THEN 1 ELSE 0 END AS f1,
           CASE WHEN len(list_filter(toks,
                    x -> list_contains([{stop_arr}], x)))
                * {ABL_STOP_DEN} <= len(toks) THEN 1 ELSE 0 END AS f2,
           CASE WHEN len(list_distinct(toks)) * {ABL_DIV_DEN}
                >= len(toks) * {ABL_DIV_NUM} THEN 1 ELSE 0 END AS f3
    FROM (
        SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents WHERE text IS NOT NULL
    )
),
totals AS (
    SELECT CAST(count(*) AS BIGINT) AS total_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM flagged
),
masked AS (
    SELECT u.mask, n_tok,
           CASE WHEN (u.mask & 1 = 0 OR f1 = 1)
                 AND (u.mask & 2 = 0 OR f2 = 1)
                 AND (u.mask & 4 = 0 OR f3 = 1) THEN 1 ELSE 0 END AS keep
    FROM flagged, UNNEST(range(0, 8)) AS u(mask)
)
SELECT CAST(m.mask AS BIGINT) AS mask,
       concat(CASE WHEN m.mask & 1 = 1 THEN 'L' ELSE '-' END,
              CASE WHEN m.mask & 2 = 2 THEN 'S' ELSE '-' END,
              CASE WHEN m.mask & 4 = 4 THEN 'D' ELSE '-' END) AS filters,
       CAST(sum(keep) AS BIGINT) AS n_docs_kept,
       CAST(sum(keep * n_tok) AS BIGINT) AS tokens_kept,
       CAST(sum(keep) * 1000000 // nullif(t.total_docs, 0) AS BIGINT)
           AS doc_keep_ppm,
       CAST(CAST(sum(keep * n_tok) AS HUGEINT) * 1000000
            // nullif(t.total_tokens, 0) AS BIGINT) AS token_keep_ppm
FROM masked m, totals t
GROUP BY m.mask, t.total_docs, t.total_tokens
"""


# ---------------------------------------------------------------------------
# Dataset-card rollup — the per-source one-stop summary a dataset SHIPS
# (the "Datasheets for Datasets" / model-card practice, Gebru et al.
# CACM'21): volume, token mass, language mix, exact-duplicate rate, and
# quality-bucket shares, one row per source. Nothing here is a new
# primitive — the point is the COMPOSED, release-ready artifact: the
# row a consumer reads before mixing the source into a training run.
# One scan feeds three combines (per-source, per-(source, lang) for the
# top-language argmax, per-(source, md5) for the dup groups); output is
# |sources| rows at any corpus size. All shares floored ppm.
# ---------------------------------------------------------------------------
def dataset_card_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.llm_ops import STOPWORDS

    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    docs = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .withColumn("tok_arr", tokens("text"))
        .select(
            "source",
            "lang",
            F.md5("text").alias("th"),
            F.expr("CAST(size(tok_arr) AS BIGINT)").alias("n_tok"),
            F.expr(
                f"CASE WHEN size(tok_arr) < {ABL_MIN_TOKENS}"
                " THEN 1 ELSE 0 END"
            )
            .cast("bigint")
            .alias("is_short"),
            F.expr(
                f"CASE WHEN size(filter(tok_arr,"
                f" x -> array_contains(array({stop_arr}), x)))"
                f" * {ABL_STOP_DEN} > size(tok_arr) THEN 1 ELSE 0 END"
            )
            .cast("bigint")
            .alias("is_lowq"),
        )
        .persist()
    )
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("is_short").cast("bigint").alias("n_short"),
        F.sum("is_lowq").cast("bigint").alias("n_lowq"),
    )
    wl = Window.partitionBy("source").orderBy(
        F.col("lc").desc(), F.col("lang")
    )
    top_lang = (
        docs.filter(F.col("lang").isNotNull())
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("lc"))
        .withColumn("rn", F.row_number().over(wl))
        .filter("rn = 1")
        .select("source", F.col("lang").alias("top_lang"))
    )
    dups = (
        docs.groupBy("source", "th")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
        .groupBy("source")
        .agg(
            F.sum(F.expr("CASE WHEN ct > 1 THEN ct ELSE 0 END"))
            .cast("bigint")
            .alias("n_dup_docs")
        )
    )
    return (
        base.join(top_lang, "source", "left")
        .join(dups, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("CAST(n_tokens div n_docs AS BIGINT)").alias(
                "avg_doc_tokens"
            ),
            "n_langs",
            "top_lang",
            F.expr("CAST(n_dup_docs * 1000000 div n_docs AS BIGINT)").alias(
                "dup_ppm"
            ),
            F.expr("CAST(n_short * 1000000 div n_docs AS BIGINT)").alias(
                "short_ppm"
            ),
            F.expr("CAST(n_lowq * 1000000 div n_docs AS BIGINT)").alias(
                "lowq_ppm"
            ),
        )
    )


def _dataset_card_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.llm_ops import STOPWORDS

    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH d AS (
    SELECT source, lang, md5(text) AS th,
           CAST(len(toks) AS BIGINT) AS n_tok,
           CASE WHEN len(toks) < {ABL_MIN_TOKENS} THEN 1 ELSE 0 END
               AS is_short,
           CASE WHEN len(list_filter(toks,
                    x -> list_contains([{stop_arr}], x)))
                * {ABL_STOP_DEN} > len(toks) THEN 1 ELSE 0 END AS is_lowq
    FROM (
        SELECT source, lang, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents WHERE text IS NOT NULL
    )
),
base AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(is_short) AS BIGINT) AS n_short,
           CAST(sum(is_lowq) AS BIGINT) AS n_lowq
    FROM d GROUP BY 1
),
top_lang AS (
    SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY count(*) DESC, lang) AS rn
        FROM d WHERE lang IS NOT NULL GROUP BY source, lang
    ) WHERE rn = 1
),
dups AS (
    SELECT source,
           CAST(sum(CASE WHEN ct > 1 THEN ct ELSE 0 END) AS BIGINT)
               AS n_dup_docs
    FROM (SELECT source, th, CAST(count(*) AS BIGINT) AS ct
          FROM d GROUP BY 1, 2)
    GROUP BY 1
)
SELECT b.source, b.n_docs, b.n_tokens,
       CAST(b.n_tokens // b.n_docs AS BIGINT) AS avg_doc_tokens,
       b.n_langs, t.top_lang,
       CAST(u.n_dup_docs * 1000000 // b.n_docs AS BIGINT) AS dup_ppm,
       CAST(b.n_short * 1000000 // b.n_docs AS BIGINT) AS short_ppm,
       CAST(b.n_lowq * 1000000 // b.n_docs AS BIGINT) AS lowq_ppm
FROM base b
LEFT JOIN top_lang t USING (source)
JOIN dups u USING (source)
"""


# ---------------------------------------------------------------------------
# Web-corpus front door (VERDICT r8 #2b): URL/host canonicalization +
# per-domain frequency caps — the C4/RefinedWeb curation stage between
# "crawl" and "dedup". A handful of hosts dominate any crawl; capping
# docs-per-canonical-host bounds their share BEFORE the expensive
# dedup/quality stages run.
#
# Scale design: canonicalization is pure JVM string expressions (scan-
# bound, zero shuffle). The cap is row_number()<=K per host — Spark >=3.5
# plans this as WindowGroupLimit: a per-input-partition partial top-K runs
# BEFORE the shuffle, so a hot host moves at most K rows per upstream
# partition instead of its full posting list; the full sort never
# materializes. Keep-priority is (n_chars DESC, doc_id) — deterministic,
# and "longest doc wins" is the standard C4 tie-break.
#
# `documents.source` is the corpus's domain proxy: the synthesized raw URL
# (mixed-case scheme/host, www + default port, trailing slash, utm_*
# params, fragment) gives the canonicalizer real work on every component;
# the oracle mirrors each step in DuckDB SQL.

DOMAIN_CAP = 20


def domain_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    # NULL source/lang must not swallow the whole URL through concat —
    # an unknown domain still canonicalizes (to the bare zone host)
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.upper(F.coalesce("source", F.lit(""))),
        F.lit(".Example.COM:443/Articles/"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=feed&ref="),
        F.coalesce("lang", F.lit("")),
        F.lit("&utm_campaign=sale#frag"),
    )
    parts = (
        docs.withColumn("url", url)
        # scheme, host:port, path?query are each extracted generically —
        # the expressions hold for any http(s) URL, not just this shape
        .withColumn(
            "scheme",
            F.lower(F.regexp_extract("url", r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)),
        )
        .withColumn(
            "hostport", F.lower(F.regexp_extract("url", r"^[^/]+//([^/]+)", 1))
        )
        .withColumn(
            "host",
            F.regexp_replace(
                F.regexp_replace("hostport", r"^www\.", ""), r":(443|80)$", ""
            ),
        )
        .withColumn("pathq", F.regexp_extract("url", r"^[^/]+//[^/]+(/[^#]*)", 1))
        .withColumn(
            "path",
            F.regexp_replace(F.regexp_extract("pathq", r"^([^?]*)", 1), r"/$", ""),
        )
        .withColumn("query", F.regexp_extract("pathq", r"\?(.*)$", 1))
        # drop tracking params, sort the survivors (order-insensitive
        # canonical form), keep path case (paths are case-sensitive)
        .withColumn(
            "qkeep",
            F.array_sort(
                F.filter(
                    F.split("query", "&"),
                    lambda x: (~x.startswith("utm_")) & (x != F.lit("")),
                )
            ),
        )
        .withColumn(
            "canonical_url",
            F.concat(
                F.col("scheme"),
                F.lit("://"),
                F.col("host"),
                F.when(F.col("path") == "", "/").otherwise(F.col("path")),
                F.when(
                    F.size("qkeep") > 0,
                    F.concat(F.lit("?"), F.array_join("qkeep", "&")),
                ).otherwise(F.lit("")),
            ),
        )
    )
    w = Window.partitionBy("host").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        parts.withColumn("host_rank", F.row_number().over(w))
        .where(F.col("host_rank") <= DOMAIN_CAP)
        .select("doc_id", "host", "canonical_url", "host_rank", "n_chars")
    )


_DOMAIN_CAP_SQL = f"""
WITH u AS (
  SELECT doc_id, n_chars,
         'HTTPS://WWW.' || upper(coalesce(source, ''))
           || '.Example.COM:443/Articles/'
           || doc_id || '/?utm_source=feed&ref=' || coalesce(lang, '')
           || '&utm_campaign=sale#frag' AS url
  FROM documents WHERE text IS NOT NULL
), parts AS (
  SELECT doc_id, n_chars, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(regexp_replace(
           lower(regexp_extract(url, '^[^/]+//([^/]+)', 1)),
           '^www\\.', ''), ':(443|80)$', '') AS host,
         regexp_extract(url, '^[^/]+//[^/]+(/[^#]*)', 1) AS pathq
  FROM u
), canon AS (
  SELECT doc_id, n_chars, host, scheme,
         regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/$', '') AS path,
         list_sort(list_filter(
           string_split(regexp_extract(pathq, '\\?(.*)$', 1), '&'),
           x -> x NOT LIKE 'utm!_%' ESCAPE '!' AND x <> '')) AS qkeep
  FROM parts
), ranked AS (
  SELECT doc_id, n_chars, host,
         scheme || '://' || host
           || CASE WHEN path = '' THEN '/' ELSE path END
           || CASE WHEN len(qkeep) > 0
              THEN '?' || array_to_string(qkeep, '&') ELSE '' END
           AS canonical_url,
         row_number() OVER (PARTITION BY host
                            ORDER BY n_chars DESC, doc_id) AS host_rank
  FROM canon
)
SELECT doc_id, host, canonical_url,
       CAST(host_rank AS INTEGER) AS host_rank, n_chars
FROM ranked WHERE host_rank <= {DOMAIN_CAP}
"""


# ---------------------------------------------------------------------------
# Wave 28: the remaining web-curation + training-layout stages.
#
# robots_blocklist_filter — the C4 badlist/robots stage: the corpus is
#   screened against a HOST blocklist. The list is tiny relative to the
#   corpus (domains, not documents) → broadcast LEFT ANTI join, zero
#   corpus shuffle. In production the list is an external table (robots
#   disallow crawl, badwords domains); the stand-in derives membership
#   from md5(host) — the repo's hash-gated-membership pattern — so both
#   engines compute the identical set with no fixture file.
#
# tokenizer_vocab_coverage — the pre-training tokenizer audit: under a
#   frequency-built top-V vocabulary, what fraction of each language's
#   token occurrences is in-vocab vs OOV? Two aggregates: global token
#   counts (one shuffle with map-side combine) → top-V (tiny, total-order
#   tie-break) → broadcast semi-probe back over the per-lang counts.
#   Exact integers + one micro division.
#
# epoch_shard_plan — deterministic training-data sharding: shard by
#   md5(doc_id) so every epoch/restart assigns identically (no RNG), with
#   the per-shard balance audit (share_micro) a layout planner reads
#   before writing shards. Scan-bound; the audit is a 16-row aggregate.
# ---------------------------------------------------------------------------

BLOCKLIST_HEX = ("0", "1", "2", "3")  # md5(host) first nibble → ~25% blocked
# the synthetic corpus draws from ~31 distinct words — V=16 keeps a real
# OOV tail at every SF (V >= corpus vocabulary would make coverage
# constant 100%, a vacuous audit)
VOCAB_TOP_V = 16
EPOCH_SHARDS = 16


def _epoch_shard_col() -> "F.Column":
    """THE md5 epoch-shard assignment (doc_id -> shard), shared by
    epoch_shard_plan, crawl_to_train_funnel, and curriculum_order_plan so
    the hash-prefix width / modulus cannot drift per call site (r10
    code-review finding: three inline copies). SQL twin below."""
    return (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("bigint")
        % EPOCH_SHARDS
    ).cast("int")


_EPOCH_SHARD_SQL_EXPR = (
    "CAST(TRY_CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) "
    f"AS BIGINT) % {EPOCH_SHARDS} AS INTEGER)"
)

_HOST_EXPR = "lower(coalesce(source, '')) || '.example.com'"


def robots_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .withColumn("host", F.expr(_HOST_EXPR))
        .select("doc_id", "host", "n_chars")
    )
    blocklist = (
        docs.select("host")
        .distinct()
        .where(F.substring(F.md5("host"), 1, 1).isin(*BLOCKLIST_HEX))
    )
    return docs.join(F.broadcast(blocklist), "host", "left_anti").select(
        "doc_id", "host", "n_chars"
    )


_BLOCKLIST_SQL = f"""
WITH d AS (
  SELECT doc_id, n_chars, {_HOST_EXPR} AS host
  FROM documents WHERE text IS NOT NULL
),
b AS (
  SELECT DISTINCT host FROM d
  WHERE substr(md5(host), 1, 1) IN {BLOCKLIST_HEX!r}
)
SELECT doc_id, host, n_chars
FROM d WHERE host NOT IN (SELECT host FROM b)
"""


def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    toks = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .where(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select("lang", F.explode(tokens("text")).alias("tok"))
    )
    per_lang_tok = toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
    ).persist()
    vocab = (
        per_lang_tok.groupBy("tok")
        .agg(F.sum("ct").cast("bigint").alias("gct"))
        .orderBy(F.col("gct").desc(), "tok")  # total order: count, token
        .limit(VOCAB_TOP_V)
        .select("tok")
    )
    marked = per_lang_tok.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "tok", "left"
    )
    out = marked.groupBy("lang").agg(
        F.sum("ct").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("in_vocab") == 1, F.col("ct")).otherwise(0))
        .cast("bigint")
        .alias("invocab_tokens"),
        F.countDistinct(
            F.when(F.col("in_vocab") == 1, F.col("tok"))
        ).cast("bigint").alias("vocab_hits"),
    )
    per_lang_tok.unpersist()
    return out.select(
        "lang",
        "total_tokens",
        "invocab_tokens",
        (F.col("total_tokens") - F.col("invocab_tokens")).alias("oov_tokens"),
        F.expr("invocab_tokens * 1000000 div total_tokens").alias(
            "coverage_micro"
        ),
        "vocab_hits",
    )


_VOCAB_COVERAGE_SQL = f"""
WITH tok AS (
  SELECT lang, u.t AS tok
  FROM (
    SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS ts
    FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
  ), UNNEST(ts) AS u(t)
),
plt AS (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS ct
  FROM tok GROUP BY 1, 2
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, sum(ct) AS gct FROM plt GROUP BY 1
    ORDER BY gct DESC, tok LIMIT {VOCAB_TOP_V}
  )
),
agg AS (
  SELECT p.lang,
         CAST(sum(p.ct) AS BIGINT) AS total_tokens,
         CAST(sum(CASE WHEN v.tok IS NOT NULL THEN p.ct ELSE 0 END)
              AS BIGINT) AS invocab_tokens,
         CAST(count(DISTINCT CASE WHEN v.tok IS NOT NULL THEN p.tok END)
              AS BIGINT) AS vocab_hits
  FROM plt p LEFT JOIN vocab v USING (tok)
  GROUP BY 1
)
SELECT lang, total_tokens, invocab_tokens,
       total_tokens - invocab_tokens AS oov_tokens,
       invocab_tokens * 1000000 // total_tokens AS coverage_micro,
       vocab_hits
FROM agg
"""


def epoch_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .withColumn(
            "shard_id",
            _epoch_shard_col(),
        )
    )
    per_shard = docs.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_total"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )
    total = per_shard.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs")
    )
    return per_shard.crossJoin(F.broadcast(total)).select(
        "shard_id",
        "n_docs",
        "n_chars_total",
        "min_doc_id",
        "max_doc_id",
        F.expr("n_docs * 1000000 div total_docs").alias("share_micro"),
    )


_EPOCH_SHARD_SQL = f"""
WITH d AS (
  SELECT doc_id, n_chars,
         {_EPOCH_SHARD_SQL_EXPR} AS shard_id
  FROM documents WHERE text IS NOT NULL
),
per_shard AS (
  SELECT shard_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
         CAST(min(doc_id) AS BIGINT) AS min_doc_id,
         CAST(max(doc_id) AS BIGINT) AS max_doc_id
  FROM d GROUP BY 1
)
SELECT shard_id, n_docs, n_chars_total, min_doc_id, max_doc_id,
       CAST(n_docs * 1000000 // (SELECT sum(n_docs) FROM per_shard)
            AS BIGINT) AS share_micro
FROM per_shard
"""


# ---------------------------------------------------------------------------
# Wave 29: WARC record parsing + the composed front-door recipe.
#
# warc_record_parse — the step BEFORE html extraction in a crawl pipeline:
#   split the WARC envelope into typed headers + body and run the
#   Content-Length integrity check (truncated fetches are the most common
#   crawl corruption; they must be quarantined before extraction). The
#   parse is pure JVM regexp + locate over the record string — no Python,
#   scan-bound, zero shuffle. The envelope is synthesized deterministically
#   per document (the fixture half); a deterministic subset is truncated
#   one byte short so the validity leg is non-vacuous on both engines.
#
# web_front_door_recipe — the composed crawl-side counterpart of
#   pretrain_data_recipe (which covers the curation back half: quality /
#   dedup / mixture): per-stage survivor counts for
#   raw -> fetched -> blocklist -> domain-cap -> length-floor.
#   One scan feeds every stage; each stage is a 1-row aggregate.
# ---------------------------------------------------------------------------

WARC_CORRUPT_MOD = 13  # doc_id % 13 == 0 → body truncated by one char
FRONT_DOOR_MIN_TOKENS = 8

_CRLF_SQL = "chr(13) || chr(10)"  # avoid literal control chars in SQL text


def _warc_record_col() -> "F.Column":
    """The synthesized WARC envelope as a Column over a documents frame
    (doc_id, text, source) — the fixture half shared by warc_record_parse
    and crawl_to_train_funnel so the envelope cannot drift between them."""
    crlf = "\r\n"
    body = F.when(
        F.col("doc_id") % WARC_CORRUPT_MOD == 0,
        F.expr("substring(text, 1, greatest(length(text) - 1, 0))"),
    ).otherwise(F.col("text"))
    return F.concat(
        F.lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf),
        F.lit("WARC-Target-URI: https://"),
        F.lower(F.coalesce("source", F.lit(""))),
        F.lit(".example.com/articles/"),
        F.col("doc_id").cast("string"),
        F.lit(crlf + "WARC-Date: 2024-01-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit("T00:00:00Z" + crlf + "Content-Length: "),
        F.length("text").cast("string"),
        F.lit(crlf + crlf),
        body,
    )


def warc_record_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    crlf = "\r\n"
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    rec = docs.select("doc_id", _warc_record_col().alias("record"))
    parsed = rec.select(
        "doc_id",
        F.regexp_extract("record", r"WARC-Type: ([^\r\n]+)", 1).alias(
            "warc_type"
        ),
        F.regexp_extract("record", r"WARC-Target-URI: ([^\r\n]+)", 1).alias(
            "target_uri"
        ),
        F.regexp_extract("record", r"WARC-Date: ([^\r\n]+)", 1).alias(
            "warc_date"
        ),
        F.regexp_extract("record", r"Content-Length: ([0-9]+)", 1)
        .cast("bigint")
        .alias("content_length"),
        F.col("record")
        .substr(F.locate(crlf + crlf, F.col("record")) + 4, F.length("record"))
        .alias("body"),
    )
    return parsed.select(
        "doc_id",
        "warc_type",
        "target_uri",
        "warc_date",
        "content_length",
        F.length("body").cast("bigint").alias("body_len"),
        (F.length("body") == F.col("content_length")).alias("is_valid"),
    )


def _warc_rec_cte(cols: str = "") -> str:
    """SQL twin of _warc_record_col as the `rec` CTE (carrying `cols`)."""
    c = f", {cols}" if cols else ""
    return f"""rec AS (
  SELECT doc_id{c},
         'WARC/1.0' || {_CRLF_SQL} || 'WARC-Type: response' || {_CRLF_SQL}
           || 'WARC-Target-URI: https://' || lower(coalesce(source, ''))
           || '.example.com/articles/' || doc_id
           || {_CRLF_SQL} || 'WARC-Date: 2024-01-'
           || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
           || 'T00:00:00Z' || {_CRLF_SQL} || 'Content-Length: '
           || length(text)
           || {_CRLF_SQL} || {_CRLF_SQL}
           || CASE WHEN doc_id % {WARC_CORRUPT_MOD} = 0
              THEN substr(text, 1, greatest(length(text) - 1, 0))
              ELSE text END AS record
  FROM documents WHERE text IS NOT NULL
)"""


_WARC_PARSE_SQL = f"""
WITH {_warc_rec_cte()},
parsed AS (
  SELECT doc_id,
         regexp_extract(record, 'WARC-Type: ([^\r\n]+)', 1) AS warc_type,
         regexp_extract(record, 'WARC-Target-URI: ([^\r\n]+)', 1)
             AS target_uri,
         regexp_extract(record, 'WARC-Date: ([^\r\n]+)', 1) AS warc_date,
         CAST(regexp_extract(record, 'Content-Length: ([0-9]+)', 1)
              AS BIGINT) AS content_length,
         substr(record,
                strpos(record, {_CRLF_SQL} || {_CRLF_SQL}) + 4) AS body
  FROM rec
)
SELECT doc_id, warc_type, target_uri, warc_date, content_length,
       CAST(length(body) AS BIGINT) AS body_len,
       length(body) = content_length AS is_valid
FROM parsed
"""


def web_front_door_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    raw = (
        load_table(spark, sf_dir, "documents")
        .withColumn("tok_ct", F.size(tokens("text")))
        .persist()
    )
    fetched = raw.where(F.col("text").isNotNull())
    hosts = fetched.withColumn("host", F.expr(_HOST_EXPR))
    blocklist = (
        hosts.select("host")
        .distinct()
        .where(F.substring(F.md5("host"), 1, 1).isin(*BLOCKLIST_HEX))
    )
    unblocked = hosts.join(F.broadcast(blocklist), "host", "left_anti")
    w = Window.partitionBy("host").orderBy(F.col("n_chars").desc(), "doc_id")
    capped = (
        unblocked.withColumn("host_rank", F.row_number().over(w))
        .where(F.col("host_rank") <= DOMAIN_CAP)
        .persist()
    )
    long_enough = capped.where(F.col("tok_ct") >= FRONT_DOOR_MIN_TOKENS)

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(
                F.sum(F.when(F.col("tok_ct") > 0, F.col("tok_ct")).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("total_tokens"),
        )

    out = stage("00_raw", raw)
    for name, df in (
        ("01_fetched", fetched),
        ("02_blocklist", unblocked),
        ("03_domain_cap", capped),
        ("04_length_floor", long_enough),
    ):
        out = out.unionByName(stage(name, df))
    return out


_FRONT_DOOR_SQL = f"""
WITH raw AS (
  SELECT doc_id, text, n_chars, source,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS tok_ct
  FROM documents
),
fetched AS (
  SELECT *, {_HOST_EXPR} AS host FROM raw WHERE text IS NOT NULL
),
b AS (
  SELECT DISTINCT host FROM fetched
  WHERE substr(md5(host), 1, 1) IN {BLOCKLIST_HEX!r}
),
unblocked AS (
  SELECT * FROM fetched WHERE host NOT IN (SELECT host FROM b)
),
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY host
                                 ORDER BY n_chars DESC, doc_id) AS hr
    FROM unblocked
  ) WHERE hr <= {DOMAIN_CAP}
),
long_enough AS (
  SELECT * FROM capped WHERE tok_ct >= {FRONT_DOOR_MIN_TOKENS}
)
SELECT '00_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(CASE WHEN tok_ct > 0 THEN tok_ct ELSE 0 END), 0)
            AS BIGINT) AS total_tokens FROM raw
UNION ALL
SELECT '01_fetched', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN tok_ct > 0 THEN tok_ct ELSE 0 END), 0)
            AS BIGINT) FROM fetched
UNION ALL
SELECT '02_blocklist', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN tok_ct > 0 THEN tok_ct ELSE 0 END), 0)
            AS BIGINT) FROM unblocked
UNION ALL
SELECT '03_domain_cap', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN tok_ct > 0 THEN tok_ct ELSE 0 END), 0)
            AS BIGINT) FROM capped
UNION ALL
SELECT '04_length_floor', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN tok_ct > 0 THEN tok_ct ELSE 0 END), 0)
            AS BIGINT) FROM long_enough
"""


# ---------------------------------------------------------------------------
# Round-10 (VERDICT r9 #5): the FULL crawl -> train-ready funnel as one
# driver row. web_front_door_recipe covers raw -> cap and
# pretrain_data_recipe covers quality -> mixture; this composes the whole
# chain one level up — WARC parse -> HTML extraction -> quality gate ->
# blocklist -> domain cap -> exact dedup -> MinHash-LSH near dedup ->
# sqrt-temperature mixture -> epoch shard plan -> greedy context packing —
# with per-stage survivor counts in ONE oracle, so a drift at ANY stage
# seam breaks the gate. Every stage is the SHARED primitive, not a copy:
# the WARC envelope from `_warc_record_col`/`_warc_rec_cte`, extraction
# from `webtext.attach_html`/`extract_main_text` (+ its
# `html_extract_sql_ctes` SQL twin), the quality gate and exact dedup from
# `llm_ops.quality_gate`/`exact_dedup_first` (+ `quality_q_ctes`/
# `exact_dedup_ctes`), near-dup candidates from `llm_ops._minhash_pairs`
# (+ `_minhash_tail_cte`), blocklist/cap/shard constants from the
# front-door ops, mixture from `_sqrt_targets`/`_mixture_keep_pred`,
# packing from doc_pack_greedy's prefix-sum rule — tuning any threshold
# retunes both the standalone query and this composition.
#
# Output: (stage, n_docs, total_tokens, n_units) where n_units is the
# stage's natural unit — docs for filters, kept text blocks for
# extraction, surviving hosts for blocklist/cap, sources for mixture,
# shards for the shard plan, packs for packing.
#
# Scale: one corpus scan; every frame feeding two consumers (valid ->
# extraction + funnel row; extracted/q/unblocked/capped/kept/neardup/
# sampled/sharded likewise) is persisted so each stage materializes once.
# The data-sized shuffles are each stage's own proven shape: the Arrow
# extraction pass is shuffle-free, quality/blocklist are scan + broadcast
# anti, the cap and packing are keyed windows, exact dedup is one window
# on the content hash, LSH is the banded candidate join. The extraction
# join back to (source, lang) keys on doc_id.
# ---------------------------------------------------------------------------
def crawl_to_train_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.functions.exprs import word_shingles
    from realtimedatawarehouse_self_spark.functions.webtext import (
        attach_html,
        extract_main_text,
    )
    from realtimedatawarehouse_self_spark.plans.llm_ops import (
        _minhash_pairs,
        quality_gate,
    )
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    crlf = "\r\n"
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    rec = docs.select(
        "doc_id", "source", "lang", _warc_record_col().alias("record")
    )
    parsed = rec.select(
        "doc_id",
        "source",
        "lang",
        F.regexp_extract("record", r"Content-Length: ([0-9]+)", 1)
        .cast("bigint")
        .alias("content_length"),
        F.col("record")
        .substr(F.locate(crlf + crlf, F.col("record")) + 4, F.length("record"))
        .alias("body"),
    )
    valid = parsed.filter(
        F.length("body") == F.col("content_length")
    ).select("doc_id", "source", "lang", F.col("body").alias("text"))
    # r11 one-pass restructure (guide §8 "decide with small rows" / §2.4):
    # before, every stage leg from 01 on re-ran the narrow front end above
    # its last shared exchange — the Arrow HTML extraction + tokenizer
    # executed once per leg (~5 evaluations for ONE benched row, the
    # round-10 "Not yet optimized" #1). Now ONE slim per-doc frame carries
    # every decision column the ten legs and the near-dup branch need
    # (token/block counts, content hash, text length, host) and is
    # persisted, so the extraction runs exactly once; page bodies are
    # dropped at the projection — the cache holds per-doc scalars plus
    # tok_arr (kept for the shingle branch), never raw HTML/text. At
    # cluster scale the persist is MEMORY_AND_DISK like every interior
    # persist here, and it replaces ~5 re-runs of the Python extraction
    # over the full corpus — strictly fewer bytes than the text frames
    # the r10 persist A/B rejected (those cached body+text per stage).
    extracted = extract_main_text(attach_html(valid)).select(
        "doc_id",
        "kept_blocks",
        F.col("extracted_text").alias("text"),
    )
    slim = (
        valid.drop("text")
        .join(extracted, "doc_id")
        .withColumn("tok_arr", tokens("text"))
        .select(
            "doc_id",
            "source",
            "lang",
            "kept_blocks",
            "tok_arr",
            F.size("tok_arr").cast("bigint").alias("tok_ct"),
            F.length("text").alias("text_len"),
            F.md5("text").alias("text_md5"),
            F.expr(_HOST_EXPR).alias("host"),
        )
        .persist()
    )
    q = quality_gate(slim)
    # in-row blocklist membership: the blocklist is DISTINCT q-hosts whose
    # md5 first nibble is blocked, and the anti-join drops exactly the
    # rows whose OWN host satisfies that predicate — membership is a pure
    # function of the row's host, so the distinct aggregate + broadcast
    # anti-join collapse to one filter (guide §2.4; the standalone
    # robots_blocklist_filter keeps the join form its oracle pins).
    unblocked = q.filter(
        ~F.substring(F.md5("host"), 1, 1).isin(*BLOCKLIST_HEX)
    )
    w = Window.partitionBy("host").orderBy(
        F.col("text_len").desc(), "doc_id"
    )
    capped = (
        unblocked.withColumn("hr", F.row_number().over(w))
        .where(F.col("hr") <= DOMAIN_CAP)
        .drop("hr")
    )
    # exact_dedup_first inlined on the precomputed content hash (same
    # window, identical keep-lowest-doc_id semantics — text_md5 IS
    # md5(text), hashed once at the slim projection)
    wd = Window.partitionBy("text_md5").orderBy("doc_id")
    # NOT persisted (r11 persist A/B, 3 cycles of {all, none, slim-only,
    # kept-only}; cycle-mins 4.96/5.09/4.93/5.88): the two window
    # EXCHANGES below ride ReusedExchange across the 6 post-dedup legs,
    # and caching the array-carrying kept frame on top of slim pays
    # materialization without beating slim-only.
    kept = (
        capped.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # in-row distinct (array_distinct) — doc_id is unique in `kept`, so
    # per-doc array dedup replaces the corpus-shingle-volume `.distinct()`
    # exchange (r10, guide §2.4; same change as llm_ops._doc_shingles)
    sh = kept.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("tok_arr")))).alias(
            "sh"
        ),
    )
    dropped = (
        _minhash_pairs(sh).select(F.col("doc_b").alias("doc_id")).distinct()
    )
    neardup = kept.join(dropped, "doc_id", "left_anti")
    counts = neardup.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_ct")
    )
    targets = _sqrt_targets(counts, MIX_SAMPLE_TOTAL)
    sampled = neardup.join(F.broadcast(targets), "source").filter(
        _mixture_keep_pred()
    )
    sharded = sampled.withColumn(
        "shard_id",
        _epoch_shard_col(),
    )
    wp = Window.partitionBy("shard_id").orderBy("doc_id")
    packed = sharded.withColumn(
        "pack_id",
        F.floor(
            (F.sum("tok_ct").over(wp) - F.col("tok_ct")) / F.lit(PACK_BUDGET)
        ).cast("bigint"),
    )

    def stage(name: str, df: DataFrame, units) -> DataFrame:
        # frames from 01 on carry the slim frame's materialized tok_ct —
        # only the WARC stage tokenizes (its token total is defined on the
        # RAW body text, before extraction)
        tok_sz = (
            F.size(tokens("text"))
            if "tok_ct" not in df.columns
            else F.col("tok_ct")
        )
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(tok_sz.cast("bigint")), F.lit(0))
            .cast("bigint")
            .alias("total_tokens"),
            units.cast("bigint").alias("n_units"),
        )

    n_rows = F.count(F.lit(1))
    out = stage("00_warc_valid", valid, n_rows)
    for name, df, units in (
        ("01_html_extract", slim, F.coalesce(F.sum("kept_blocks"), F.lit(0))),
        ("02_quality", q, n_rows),
        ("03_blocklist", unblocked, F.countDistinct("host")),
        ("04_domain_cap", capped, F.countDistinct("host")),
        ("05_exact_dedup", kept, n_rows),
        ("06_near_dedup", neardup, n_rows),
        ("07_mixture", sampled, F.countDistinct("source")),
        ("08_shard_plan", sharded, F.countDistinct("shard_id")),
        ("09_packing", packed, F.countDistinct("shard_id", "pack_id")),
    ):
        out = out.unionByName(stage(name, df, units))
    return out


# ---------------------------------------------------------------------------
# Wave 40c: curriculum ordering plan (Bengio et al. 2009 curriculum
# learning, the data-ordering artifact) — rank documents easy -> hard
# within each language and cut the ranking into CURR_PHASES equal-count
# phases (integer rank cut, the CCNet 30/40/30 idiom generalized), then
# assign each phase's docs to the md5 epoch shards. Difficulty proxy =
# lexical diversity in micro units (distinct tokens / tokens — the
# doc_lexical_diversity signal): repetitive text trains first, diverse
# text later. Deterministic total order: (difficulty, doc_id).
# Scale: the rank window partitions by lang (per-lang volumes are
# corpus-sized but the window is ONE shuffle, the perplexity-bucket
# shape); phase/shard summary is a tiny-key combine.
# ---------------------------------------------------------------------------
CURR_PHASES = 4


def curriculum_order_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _docs(spark, sf_dir)
        .withColumn("tok_arr", tokens("text"))
        .filter(F.size("tok_arr") >= 1)
        .select(
            "doc_id",
            "lang",
            F.size("tok_arr").cast("bigint").alias("tok_ct"),
            # CAST before the multiply: size() is 32-bit and ANSI mode
            # throws ARITHMETIC_OVERFLOW past ~2147 distinct tokens
            # (r10 code-review finding, verified live)
            F.expr(
                "CAST(size(array_distinct(tok_arr)) AS BIGINT) * 1000000"
                " div size(tok_arr)"
            ).alias("difficulty_micro"),
        )
    )
    w = Window.partitionBy("lang").orderBy("difficulty_micro", "doc_id")
    ranked = docs.withColumn("r", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("lang"))
    )
    phased = ranked.withColumn(
        "phase",
        F.expr(
            f"CAST({CURR_PHASES} * (CAST(r AS BIGINT) - 1) div n AS INT)"
        ),
    ).withColumn(
        "shard_id",
        _epoch_shard_col(),
    )
    return phased.groupBy("lang", "phase", "shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok_ct").cast("bigint").alias("total_tokens"),
        F.min("difficulty_micro").alias("min_difficulty_micro"),
        F.max("difficulty_micro").alias("max_difficulty_micro"),
    )


_CURRICULUM_SQL = f"""
WITH d AS (
    SELECT doc_id, lang,
           CAST(len(t) AS BIGINT) AS tok_ct,
           CAST(len(list_distinct(t)) * 1000000 // len(t) AS BIGINT)
               AS difficulty_micro
    FROM (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ) WHERE len(t) >= 1
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY lang
                              ORDER BY difficulty_micro, doc_id) AS r,
           count(*) OVER (PARTITION BY lang) AS n
    FROM d
),
phased AS (
    SELECT *,
           CAST({CURR_PHASES} * (r - 1) // n AS INTEGER) AS phase,
           {_EPOCH_SHARD_SQL_EXPR} AS shard_id
    FROM ranked
)
SELECT lang, phase, shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok_ct) AS BIGINT) AS total_tokens,
       CAST(min(difficulty_micro) AS BIGINT) AS min_difficulty_micro,
       CAST(max(difficulty_micro) AS BIGINT) AS max_difficulty_micro
FROM phased
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Wave 41a: robots.txt RULE evaluation (RFC 9309 Robots Exclusion
# Protocol) — the real longest-match semantics the crawl stack runs per
# URL, one level deeper than robots_blocklist_filter's host-level badlist:
# each host carries allow/disallow PATH-PREFIX rules; the most specific
# (longest) matching rule decides, and at equal length allow wins (RFC
# 9309 §2.2.2). No matching rule → allow (the RFC default).
#
# The rules table is host-level and tiny (≤3 rules/host here; dozens in
# production) — in production it is parsed from fetched robots.txt
# bodies; the stand-in derives each host's rule set from md5(host)
# nibbles (the repo's hash-gated-membership pattern, robots_blocklist
# precedent) so both engines build the identical table with no fixture.
# Scale: broadcast the rules; the corpus side is ONE scan with a ≤
# rules-per-host fan-out and a map-side-combinable per-doc max — the
# longest-match pick is a single-BIGINT arg-max (score = 2*prefix_len +
# is_allow: lengths are tie-broken by allow, exactly the RFC order), so
# no window and no corpus-side sort anywhere.
# ---------------------------------------------------------------------------
ROBOTS_DISALLOW_SECTION_HEX = tuple("01234567")  # md5[1]: disallow /Articles
ROBOTS_ALLOW_OVERRIDE_HEX = tuple("01234567")  # md5[2]: allow /Articles/1
ROBOTS_SITE_BAN_HEX = tuple("0123")  # md5[3]: disallow /
ROBOTS_ALLOW_PREFIX = "/Articles/1"


def robots_rule_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .withColumn("host", F.expr(_HOST_EXPR))
        .withColumn(
            "path",
            F.concat(F.lit("/Articles/"), F.col("doc_id").cast("string")),
        )
        .select("doc_id", "host", "path")
    )
    hosts = docs.select("host").distinct()

    def _rules(hexes: tuple, nibble: int, rule_prefix: str, allow: int):
        return hosts.where(
            F.substring(F.md5("host"), nibble, 1).isin(*hexes)
        ).select(
            F.col("host").alias("rhost"),
            F.lit(rule_prefix).alias("prefix"),
            F.lit(allow).alias("is_allow"),
            F.lit(len(rule_prefix)).alias("plen"),
        )

    rules = (
        _rules(ROBOTS_DISALLOW_SECTION_HEX, 1, "/Articles", 0)
        .unionByName(_rules(ROBOTS_ALLOW_OVERRIDE_HEX, 2, ROBOTS_ALLOW_PREFIX, 1))
        .unionByName(_rules(ROBOTS_SITE_BAN_HEX, 3, "/", 0))
    )
    joined = docs.join(
        F.broadcast(rules),
        (docs.host == rules.rhost)
        & (F.expr("substring(path, 1, plen) = prefix")),
        "left",
    ).withColumn(
        # one orderable BIGINT encodes the RFC pick: longest prefix wins,
        # allow beats disallow at equal length; 0 = no rule matched
        "score",
        F.coalesce(F.col("plen"), F.lit(0)) * 2
        + F.coalesce(F.col("is_allow"), F.lit(0)),
    )
    agg = joined.groupBy("doc_id", "host", "path").agg(
        F.max("score").cast("bigint").alias("best_score"),
        F.max_by("prefix", "score").alias("best_prefix"),
        F.max_by("is_allow", "score").alias("best_allow"),
        F.max_by("plen", "score").alias("best_plen"),
    )
    return agg.select(
        "doc_id",
        "host",
        "path",
        F.when(F.col("best_score") <= 0, F.lit(None).cast("string"))
        .otherwise(F.col("best_prefix"))
        .alias("matched_prefix"),
        F.when(F.col("best_score") <= 0, F.lit(0))
        .otherwise(F.col("best_plen"))
        .cast("bigint")
        .alias("matched_len"),
        F.when(
            (F.col("best_score") <= 0) | (F.col("best_allow") == 1), "allow"
        )
        .otherwise("disallow")
        .alias("decision"),
    )


_ROBOTS_RULE_SQL = f"""
WITH d AS (
  SELECT doc_id, {_HOST_EXPR} AS host,
         '/Articles/' || CAST(doc_id AS VARCHAR) AS path
  FROM documents WHERE text IS NOT NULL
),
hosts AS (SELECT DISTINCT host FROM d),
rules AS (
  SELECT host AS rhost, '/Articles' AS prefix, 0 AS is_allow,
         CAST(9 AS INTEGER) AS plen
  FROM hosts WHERE substr(md5(host), 1, 1) IN {ROBOTS_DISALLOW_SECTION_HEX!r}
  UNION ALL
  SELECT host, '{ROBOTS_ALLOW_PREFIX}', 1, {len(ROBOTS_ALLOW_PREFIX)}
  FROM hosts WHERE substr(md5(host), 2, 1) IN {ROBOTS_ALLOW_OVERRIDE_HEX!r}
  UNION ALL
  SELECT host, '/', 0, 1
  FROM hosts WHERE substr(md5(host), 3, 1) IN {ROBOTS_SITE_BAN_HEX!r}
),
j AS (
  SELECT d.doc_id, d.host, d.path,
         r.prefix, r.is_allow, r.plen,
         coalesce(r.plen, 0) * 2 + coalesce(r.is_allow, 0) AS score
  FROM d LEFT JOIN rules r
    ON d.host = r.rhost AND substr(d.path, 1, r.plen) = r.prefix
),
agg AS (
  SELECT doc_id, host, path,
         CAST(max(score) AS BIGINT) AS best_score,
         arg_max(prefix, score) AS best_prefix,
         arg_max(is_allow, score) AS best_allow,
         arg_max(plen, score) AS best_plen
  FROM j GROUP BY 1, 2, 3
)
SELECT doc_id, host, path,
       CASE WHEN best_score <= 0 THEN NULL ELSE best_prefix END
           AS matched_prefix,
       CAST(CASE WHEN best_score <= 0 THEN 0 ELSE best_plen END AS BIGINT)
           AS matched_len,
       CASE WHEN best_score <= 0 OR best_allow = 1
            THEN 'allow' ELSE 'disallow' END AS decision
FROM agg
"""


# ---------------------------------------------------------------------------
# Wave 41b: crawl frontier politeness plan — the scheduler table between
# URL discovery and fetching: every host is fetched at most
# HOST_FETCH_RATE URLs per politeness epoch (crawl-delay semantics), so a
# host's frontier of n URLs spans ceil(n / RATE) epochs. URLs are served
# priority-first within each host ((n_chars DESC, doc_id) — the
# domain-cap keep-priority reused as fetch priority), epoch = (rank-1)
# div RATE. Unlike domain_frequency_cap (which KEEPS top-K and drops the
# rest), the frontier schedules EVERY url — the output is the per-
# (host, epoch) fetch batch with its backlog horizon.
# Scale: one per-host rank window (the WindowGroupLimit-free full-rank
# case — every row survives, so the window IS the work), one tiny-key
# (host, epoch) combine; zero joins (plan-locked).
# ---------------------------------------------------------------------------
HOST_FETCH_RATE = 5


def crawl_frontier_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .withColumn("host", F.expr(_HOST_EXPR))
        .select("doc_id", "host", "n_chars")
    )
    w = Window.partitionBy("host").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = (
        docs.withColumn("rank", F.row_number().over(w))
        .withColumn("n_host", F.count(F.lit(1)).over(Window.partitionBy("host")))
        .withColumn(
            "fetch_epoch",
            F.expr(f"CAST((rank - 1) div {HOST_FETCH_RATE} AS INT)"),
        )
    )
    return ranked.groupBy("host", "fetch_epoch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_urls"),
        F.sum("n_chars").cast("bigint").alias("epoch_chars"),
        F.min("doc_id").cast("bigint").alias("first_doc_id"),
        F.expr(
            f"CAST(max((n_host - 1) div {HOST_FETCH_RATE}) + 1 AS BIGINT)"
        ).alias("host_epochs"),
    )


_FRONTIER_SQL = f"""
WITH d AS (
  SELECT doc_id, n_chars, {_HOST_EXPR} AS host
  FROM documents WHERE text IS NOT NULL
),
ranked AS (
  SELECT doc_id, host, n_chars,
         row_number() OVER (PARTITION BY host
                            ORDER BY n_chars DESC, doc_id) AS r,
         count(*) OVER (PARTITION BY host) AS n_host
  FROM d
)
SELECT host,
       CAST((r - 1) // {HOST_FETCH_RATE} AS INTEGER) AS fetch_epoch,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(n_chars) AS BIGINT) AS epoch_chars,
       CAST(min(doc_id) AS BIGINT) AS first_doc_id,
       CAST(max((n_host - 1) // {HOST_FETCH_RATE}) + 1 AS BIGINT)
           AS host_epochs
FROM ranked
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Wave 41c: per-host quality with empirical-Bayes shrinkage — the domain-
# level curation signal (RefinedWeb/C4-class pipelines filter whole
# domains, not just documents): a host's raw mean document quality is
# unreliable at small n, so shrink it toward the corpus mean with a
# conjugate-prior pseudo-count (James-Stein / add-K smoothing):
#   shrunk = (sum_scores + K * global_mean) / (n_docs + K).
# Quality signal = the fasttext_hash_quality per-doc score (milli units,
# shared constants) so host decisions are consistent with the doc-level
# filter. All arithmetic integer-exact (div).
# Scale: per-doc scoring is scan-bound codegen; the host rollup is one
# map-side-combinable combine; the global mean derives FROM the host
# rollup (sum of sums / sum of counts — exactly the doc-level mean), so
# it is an unpartitioned window over the |hosts|-sized frame: the corpus
# is scanned ONCE and the plan has zero joins (locked). The token-hash
# scoring is the honest linear term, shared with fasttext_hash_quality.
# ---------------------------------------------------------------------------
SHRINK_PRIOR_DOCS = 10  # K pseudo-docs at the global mean


def host_quality_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.curation import (
        FT_KEEP_MILLI,
        FT_WEIGHT_MOD,
    )
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    w_expr = (
        "aggregate(transform(tok_arr, x -> "
        f"CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)"
        f" % {FT_WEIGHT_MOD}), "
        "0L, (acc, v) -> acc + v)"
    )
    scored = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .withColumn("tok_arr", tokens("text"))
        .filter(F.size("tok_arr") > 0)
        .withColumn("host", F.expr(_HOST_EXPR))
        .select(
            "host",
            F.expr(f"{w_expr} div size(tok_arr)").alias("score_milli"),
        )
    )
    per_host = scored.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("score_milli").cast("bigint").alias("sum_score_milli"),
    )
    wall = Window.partitionBy()  # |hosts| rows — tiny at any corpus size
    out = (
        per_host.withColumn(
            "global_sum", F.sum("sum_score_milli").over(wall).cast("bigint")
        )
        .withColumn("global_n", F.sum("n_docs").over(wall).cast("bigint"))
        .withColumn(
            "global_mean_milli", F.expr("global_sum div global_n")
        )
    )
    return out.select(
        "host",
        "n_docs",
        F.expr("sum_score_milli div n_docs").alias("mean_score_milli"),
        F.expr(
            f"(sum_score_milli + {SHRINK_PRIOR_DOCS} * global_mean_milli)"
            f" div (n_docs + {SHRINK_PRIOR_DOCS})"
        ).alias("shrunk_score_milli"),
        "global_mean_milli",
        F.when(
            F.expr(
                f"(sum_score_milli + {SHRINK_PRIOR_DOCS} * global_mean_milli)"
                f" div (n_docs + {SHRINK_PRIOR_DOCS})"
            )
            >= FT_KEEP_MILLI,
            "keep",
        )
        .otherwise("drop")
        .alias("decision"),
    )


def _host_quality_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.curation import (
        FT_KEEP_MILLI,
        FT_WEIGHT_MOD,
    )

    return f"""
WITH t AS (
  SELECT {_HOST_EXPR} AS host,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
),
scored AS (
  SELECT host,
         CAST(list_sum(list_transform(toks, x ->
              TRY_CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
              % {FT_WEIGHT_MOD})) AS BIGINT) // len(toks) AS score_milli
  FROM t WHERE len(toks) > 0
),
per_host AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(score_milli) AS BIGINT) AS sum_score_milli
  FROM scored GROUP BY 1
),
gmean AS (
  SELECT host, n_docs, sum_score_milli,
         CAST(CAST(sum(sum_score_milli) OVER () AS BIGINT)
              // CAST(sum(n_docs) OVER () AS BIGINT) AS BIGINT)
             AS global_mean_milli
  FROM per_host
)
SELECT host, n_docs,
       CAST(sum_score_milli // n_docs AS BIGINT) AS mean_score_milli,
       CAST((sum_score_milli + {SHRINK_PRIOR_DOCS} * global_mean_milli)
            // (n_docs + {SHRINK_PRIOR_DOCS}) AS BIGINT)
           AS shrunk_score_milli,
       global_mean_milli,
       CASE WHEN (sum_score_milli + {SHRINK_PRIOR_DOCS} * global_mean_milli)
                 // (n_docs + {SHRINK_PRIOR_DOCS}) >= {FT_KEEP_MILLI}
            THEN 'keep' ELSE 'drop' END AS decision
FROM gmean
"""


# ---------------------------------------------------------------------------
# Wave 43a: vocabulary growth curve (Heaps/Herdan law) — the corpus-scale
# statistic behind tokenizer sizing and dedup health: as the corpus is
# consumed in arrival order, how fast does the set of distinct tokens
# grow? A deduplicated, diverse corpus keeps discovering types; a
# crawl-loop corpus flattens early. Arrival order = doc_id; the curve is
# sampled at VOCAB_BANDS equal doc_id-range checkpoints:
#   band(doc) = (doc_id - min_id) * B div (max_id - min_id + 1).
# Scale design: NO global sort/rank anywhere — the band is pure
# arithmetic off a (min, max) 1-row aggregate broadcast back (map-side
# partials; the one extra corpus pass is the honest cost of a
# data-dependent domain split). Type first-appearance = min(band) per
# token (one token-keyed combine); everything after runs on B-row
# frames, where the cumulative window is trivially safe.
# ---------------------------------------------------------------------------
VOCAB_BANDS = 10


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    docs = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .where(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .withColumn("tok_arr", tokens("text"))
        .filter(F.size("tok_arr") >= 1)
        .select("doc_id", "tok_arr")
    )
    bounds = docs.agg(
        F.min("doc_id").alias("min_id"), F.max("doc_id").alias("max_id")
    )
    banded = docs.crossJoin(F.broadcast(bounds)).withColumn(
        "band",
        F.expr(
            f"CAST((doc_id - min_id) * {VOCAB_BANDS}"
            " div (max_id - min_id + 1) AS INT)"
        ),
    )
    band_docs = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size("tok_arr")).cast("bigint").alias("band_tokens"),
    )
    first_seen = (
        banded.select("band", F.explode("tok_arr").alias("tok"))
        .groupBy("tok")
        .agg(F.min("band").alias("first_band"))
    )
    new_types = first_seen.groupBy(F.col("first_band").alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_types")
    )
    curve = band_docs.join(new_types, "band", "left").withColumn(
        "new_types", F.coalesce("new_types", F.lit(0)).cast("bigint")
    )
    wcum = (
        Window.partitionBy()
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        curve.withColumn(
            "cum_tokens", F.sum("band_tokens").over(wcum).cast("bigint")
        )
        .withColumn("cum_vocab", F.sum("new_types").over(wcum).cast("bigint"))
        .select(
            "band",
            "n_docs",
            "band_tokens",
            "cum_tokens",
            "new_types",
            "cum_vocab",
            F.expr("cum_vocab * 1000000 div cum_tokens").alias(
                "type_token_micro"
            ),
        )
    )


_VOCAB_GROWTH_SQL = f"""
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS t
    FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
),
docs AS (SELECT doc_id, t FROM d WHERE len(t) >= 1),
bounds AS (SELECT min(doc_id) AS min_id, max(doc_id) AS max_id FROM docs),
banded AS (
    SELECT CAST((doc_id - min_id) * {VOCAB_BANDS}
                // (max_id - min_id + 1) AS INTEGER) AS band, t
    FROM docs, bounds
),
band_docs AS (
    SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(t)) AS BIGINT) AS band_tokens
    FROM banded GROUP BY 1
),
first_seen AS (
    SELECT tok, min(band) AS first_band
    FROM (SELECT band, UNNEST(t) AS tok FROM banded)
    GROUP BY 1
),
new_types AS (
    SELECT first_band AS band, CAST(count(*) AS BIGINT) AS new_types
    FROM first_seen GROUP BY 1
),
curve AS (
    SELECT b.band, b.n_docs, b.band_tokens,
           coalesce(n.new_types, 0) AS new_types
    FROM band_docs b LEFT JOIN new_types n ON b.band = n.band
)
SELECT band, n_docs, band_tokens,
       CAST(sum(band_tokens) OVER (ORDER BY band) AS BIGINT) AS cum_tokens,
       CAST(new_types AS BIGINT) AS new_types,
       CAST(sum(new_types) OVER (ORDER BY band) AS BIGINT) AS cum_vocab,
       CAST(CAST(sum(new_types) OVER (ORDER BY band) AS BIGINT) * 1000000
            // CAST(sum(band_tokens) OVER (ORDER BY band) AS BIGINT)
            AS BIGINT) AS type_token_micro
FROM curve
"""


# ---------------------------------------------------------------------------
# Wave 44b: mixture-shard conformance — the pre-flight audit between the
# mixture plan and the shard layout: hash sharding is supposed to
# preserve the corpus's source mixture inside EVERY shard (so any shard
# subset trains on the planned mix); this op measures it. For each
# (shard, source): achieved token share within the shard vs the source's
# corpus-wide share, the absolute deviation in micro units, and the
# shard's worst deviation — the number a run gate thresholds on.
# Scale: one (shard, source) token combine (map-side partials); the
# share/deviation math runs on |shards|×|sources| rows; corpus share
# attaches via a |sources|-row window, shard totals via a |shards|-row
# window — no second corpus scan (the host_quality_shrinkage lesson).
# ---------------------------------------------------------------------------
def mixture_shard_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    cell = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .where(F.col("text").isNotNull())
        .withColumn("n_toks", F.size(tokens("text")))
        # zero-token docs carry no mixture mass and would zero a shard's
        # share denominator (token_budget_mixture's guard, same reason)
        .filter(F.col("n_toks") > 0)
        .withColumn("shard_id", _epoch_shard_col())
        .groupBy("shard_id", "source")
        .agg(F.sum("n_toks").cast("bigint").alias("tokens"))
    )
    w_shard = Window.partitionBy("shard_id")
    w_source = Window.partitionBy("source")
    w_all = Window.partitionBy()
    shares = (
        cell.withColumn(
            "shard_tokens", F.sum("tokens").over(w_shard).cast("bigint")
        )
        .withColumn(
            "source_tokens", F.sum("tokens").over(w_source).cast("bigint")
        )
        .withColumn(
            "corpus_tokens", F.sum("tokens").over(w_all).cast("bigint")
        )
        .withColumn(
            "shard_share_micro",
            F.expr("tokens * 1000000 div shard_tokens"),
        )
        .withColumn(
            "corpus_share_micro",
            F.expr("source_tokens * 1000000 div corpus_tokens"),
        )
        .withColumn(
            "abs_dev_micro",
            F.expr("abs(shard_share_micro - corpus_share_micro)"),
        )
    )
    return shares.select(
        "shard_id",
        "source",
        "tokens",
        "shard_tokens",
        "shard_share_micro",
        "corpus_share_micro",
        "abs_dev_micro",
        F.max("abs_dev_micro")
        .over(w_shard)
        .cast("bigint")
        .alias("shard_max_dev_micro"),
    )


def _shard_conformance_sql() -> str:
    return f"""
WITH d AS (
  SELECT source,
         {_EPOCH_SHARD_SQL_EXPR} AS shard_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n_toks
  FROM documents WHERE text IS NOT NULL
),
cell AS (
  SELECT shard_id, source, CAST(sum(n_toks) AS BIGINT) AS tokens
  FROM d WHERE n_toks > 0 GROUP BY 1, 2
),
shares AS (
  SELECT shard_id, source, tokens,
         CAST(sum(tokens) OVER (PARTITION BY shard_id) AS BIGINT)
             AS shard_tokens,
         CAST(tokens * 1000000
              // sum(tokens) OVER (PARTITION BY shard_id) AS BIGINT)
             AS shard_share_micro,
         CAST(CAST(sum(tokens) OVER (PARTITION BY source) AS BIGINT)
              * 1000000 // CAST(sum(tokens) OVER () AS BIGINT) AS BIGINT)
             AS corpus_share_micro
  FROM cell
)
SELECT shard_id, source, tokens, shard_tokens, shard_share_micro,
       corpus_share_micro,
       CAST(abs(shard_share_micro - corpus_share_micro) AS BIGINT)
           AS abs_dev_micro,
       CAST(max(abs(shard_share_micro - corpus_share_micro))
            OVER (PARTITION BY shard_id) AS BIGINT) AS shard_max_dev_micro
FROM shares
"""


# ---------------------------------------------------------------------------
# Wave 44c: badword-ratio filter — the C4-style lexicon gate (the "List
# of Dirty, Naughty..." stage): a document drops when its share of
# blocklisted tokens exceeds BAD_MAX_NUM/BAD_MAX_DEN. The lexicon is
# tiny and static in production; the stand-in derives membership from
# md5(token) nibbles (the robots_blocklist hash-gated-membership
# pattern) so both engines gate the identical type set with no fixture.
# Distinct from pii_scrub_stats (regex patterns) and fasttext quality
# (weighted sum): this is the third published filter shape — exact
# lexicon membership with a ratio threshold.
# Scale: pure per-token codegen (membership test inside one aggregate()
# over the token array) + per-doc arithmetic — scan-bound, zero shuffle,
# the fasttext_hash_quality plan shape (locked).
# ---------------------------------------------------------------------------
BADWORD_HEX = ("0", "1")  # md5(token) first nibble → ~1/8 of types
BAD_MAX_NUM, BAD_MAX_DEN = 1, 6  # drop iff bad_ct / n_tokens > 1/6


def badword_ratio_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    hexes = ", ".join(f"'{h}'" for h in BADWORD_HEX)
    bad_expr = (
        "aggregate(transform(tok_arr, x -> "
        f"IF(array_contains(array({hexes}), substring(md5(x), 1, 1)),"
        " 1L, 0L)), 0L, (acc, v) -> acc + v)"
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .withColumn("tok_arr", tokens("text"))
        .filter(F.size("tok_arr") > 0)
    )
    return docs.select(
        "doc_id",
        "lang",
        F.size("tok_arr").cast("bigint").alias("n_tokens"),
        F.expr(bad_expr).alias("bad_ct"),
    ).select(
        "doc_id",
        "lang",
        "n_tokens",
        "bad_ct",
        F.expr("bad_ct * 1000000 div n_tokens").alias("bad_micro"),
        F.when(
            F.expr(f"bad_ct * {BAD_MAX_DEN} > n_tokens * {BAD_MAX_NUM}"),
            "drop",
        )
        .otherwise("keep")
        .alias("decision"),
    )


_BADWORD_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks, x ->
              list_contains({list(BADWORD_HEX)}, substr(md5(x), 1, 1))))
              AS BIGINT) AS bad_ct
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, lang, n_tokens, bad_ct,
       CAST(bad_ct * 1000000 // n_tokens AS BIGINT) AS bad_micro,
       CASE WHEN bad_ct * {BAD_MAX_DEN} > n_tokens * {BAD_MAX_NUM}
            THEN 'drop' ELSE 'keep' END AS decision
FROM s
"""


def _crawl_funnel_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.llm_ops import (
        _minhash_tail_cte,
        exact_dedup_ctes,
        quality_q_ctes,
    )
    from realtimedatawarehouse_self_spark.plans.python_path import (
        html_extract_sql_ctes,
    )

    return f"""
WITH {_warc_rec_cte("source, lang")},
parsed AS (
  SELECT doc_id, source, lang,
         CAST(regexp_extract(record, 'Content-Length: ([0-9]+)', 1)
              AS BIGINT) AS content_length,
         substr(record, strpos(record, {_CRLF_SQL} || {_CRLF_SQL}) + 4)
             AS body
  FROM rec
),
valid AS (
  SELECT doc_id, source, lang, body AS text FROM parsed
  WHERE length(body) = content_length
),
{html_extract_sql_ctes("valid", "source, lang")},
extracted AS (
  SELECT doc_id, source, lang,
         CAST(len(kept) AS BIGINT) AS kept_blocks,
         coalesce(array_to_string(kept, ' '), '') AS text
  FROM hk
),
{quality_q_ctes("source, kept_blocks", "extracted")},
hosts AS (
  SELECT *, {_HOST_EXPR} AS host FROM q
),
b AS (
  SELECT DISTINCT host FROM hosts
  WHERE substr(md5(host), 1, 1) IN {BLOCKLIST_HEX!r}
),
unblocked AS (
  SELECT * FROM hosts WHERE host NOT IN (SELECT host FROM b)
),
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY host
                                 ORDER BY length(text) DESC, doc_id) AS hr
    FROM unblocked
  ) WHERE hr <= {DOMAIN_CAP}
),
{exact_dedup_ctes("capped")},
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM kept, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
),
{_minhash_tail_cte()},
neardup AS (
  SELECT * FROM kept WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM pairs)
),
{_mixture_sql_ctes("neardup", MIX_SAMPLE_TOTAL)},
sampled AS (
  SELECT d.* FROM neardup d JOIN targets g ON d.source = g.source
  WHERE {_MIXTURE_KEEP_SQL}
),
sharded AS (
  SELECT *,
         {_EPOCH_SHARD_SQL_EXPR} AS shard_id
  FROM sampled
),
packed AS (
  SELECT *,
         CAST(floor((sum(len(t)) OVER (PARTITION BY shard_id ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - len(t))
                    / {PACK_BUDGET}) AS BIGINT) AS pack_id
  FROM sharded
)
SELECT '00_warc_valid' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(len(list_filter(string_split(text, ' '),
                                         x -> x <> ''))), 0) AS BIGINT)
           AS total_tokens,
       CAST(count(*) AS BIGINT) AS n_units FROM valid
UNION ALL
SELECT '01_html_extract', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(t)), 0) AS BIGINT),
       CAST(coalesce(sum(kept_blocks), 0) AS BIGINT) FROM tok
UNION ALL
SELECT '02_quality', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(t)), 0) AS BIGINT),
       CAST(count(*) AS BIGINT) FROM q
UNION ALL
SELECT '03_blocklist', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(t)), 0) AS BIGINT),
       CAST(count(DISTINCT host) AS BIGINT) FROM unblocked
UNION ALL
SELECT '04_domain_cap', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(t)), 0) AS BIGINT),
       CAST(count(DISTINCT host) AS BIGINT) FROM capped
UNION ALL
SELECT '05_exact_dedup', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(t)), 0) AS BIGINT),
       CAST(count(*) AS BIGINT) FROM kept
UNION ALL
SELECT '06_near_dedup', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(t)), 0) AS BIGINT),
       CAST(count(*) AS BIGINT) FROM neardup
UNION ALL
SELECT '07_mixture', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(t)), 0) AS BIGINT),
       CAST(count(DISTINCT source) AS BIGINT) FROM sampled
UNION ALL
SELECT '08_shard_plan', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(t)), 0) AS BIGINT),
       CAST(count(DISTINCT shard_id) AS BIGINT) FROM sharded
UNION ALL
SELECT '09_packing', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(len(t)), 0) AS BIGINT),
       CAST(count(DISTINCT (shard_id, pack_id)) AS BIGINT) FROM packed
"""


# ---------------------------------------------------------------------------
# Wave 30: token-budget mixture — the recipe TABLE behind temperature
# sampling. domain_mixture_temperature SAMPLES documents to sqrt-
# proportional doc counts; this op answers the planning question a
# training run asks first: given a global token budget, how many tokens
# does each source contribute and how many passes (epochs) over the
# source does that imply (the "repeat small high-quality sources" math
# from the Gopher/LLaMA data recipes). All integer arithmetic after the
# floored IEEE sqrt weight (the proven _sqrt_targets shape): weights and
# quotas are BIGINT micro-units, so both engines agree bit-for-bit.
# Scale: one token-count aggregate (map-side combine), then |sources|-row
# math — the corpus is scanned once.
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 100_000


def token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.session import apply_runtime_confs
    from realtimedatawarehouse_self_spark.sources.tables import load_table

    apply_runtime_confs(spark)
    toks = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .where(F.col("text").isNotNull())
        .groupBy("source")
        .agg(
            F.sum(F.size(tokens("text")))
            .cast("bigint")
            .alias("total_ct")  # _sqrt_targets' expected column name
        )
        # a zero-token source (every doc tokenizes empty) contributes no
        # quota AND would zero the repeat-epochs denominator — drop it
        # before the weight math, identically on both engines
        .filter(F.col("total_ct") > 0)
    )
    quotas = _sqrt_targets(toks, TOKEN_BUDGET)
    return quotas.select(
        "source",
        F.col("total_ct").alias("tokens_available"),
        "w_micro",
        F.col("target_ct").cast("bigint").alias("quota_tokens"),
        F.expr("target_ct * 1000000 div total_ct").alias(
            "repeat_epochs_micro"
        ),
    )


_TOKEN_BUDGET_SQL = f"""
WITH toks AS (
    SELECT source,
           CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
                AS BIGINT) AS total_ct
    FROM documents WHERE text IS NOT NULL
    GROUP BY 1
    HAVING sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) > 0
),
weighted AS (
    SELECT source, total_ct,
           CAST(floor(sqrt(CAST(total_ct AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS w_micro
    FROM toks
),
tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS tot_w FROM weighted)
SELECT w.source,
       w.total_ct AS tokens_available,
       w.w_micro,
       CAST(({TOKEN_BUDGET} * w.w_micro) // t.tot_w AS BIGINT)
           AS quota_tokens,
       CAST((({TOKEN_BUDGET} * w.w_micro) // t.tot_w) * 1000000
            // w.total_ct AS BIGINT) AS repeat_epochs_micro
FROM weighted w CROSS JOIN tot t
"""


# ---------------------------------------------------------------------------
# Wave 36a: mixture temperature sweep — the tuning table behind the
# sqrt-temperature mixture family (domain_mixture_temperature /
# token_budget_mixture fix tau = 1/2; published recipes sweep tau before
# committing — e.g. the multilingual sampling-temperature grids). Exact-
# arithmetic trick that keeps the whole sweep bit-identical across
# engines WITHOUT trusting pow(): every swept tau is a composition of
# IEEE-754 correctly-rounded ops only —
#   tau=1/4: sqrt(sqrt(c));  tau=1/2: sqrt(c);
#   tau=3/4: sqrt(c)*sqrt(sqrt(c));  tau=1: c
# (sqrt and * are correctly rounded by both JVM and C; pow is NOT
# guaranteed and never appears). Weights floor to micro BEFORE the
# normalizing sum, quotas are integer division — the proven
# _sqrt_targets shape swept across four temperatures from ONE token
# aggregate.
# Scale: one corpus token-count combine (map-side), then 4*|sources|
# rows of arithmetic; the per-tau normalizer is a window over a
# |sources|-bounded frame.
# ---------------------------------------------------------------------------
SWEEP_BUDGET = 100_000
_TAU_EXPRS = {
    250: "sqrt(sqrt(CAST(total_ct AS DOUBLE)))",
    500: "sqrt(CAST(total_ct AS DOUBLE))",
    750: "sqrt(CAST(total_ct AS DOUBLE)) * sqrt(sqrt(CAST(total_ct AS DOUBLE)))",
    1000: "CAST(total_ct AS DOUBLE)",
}


def mixture_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .groupBy("source")
        .agg(F.sum(F.size(tokens("text"))).cast("bigint").alias("total_ct"))
    )
    rows = ", ".join(
        f"struct({tau}L AS tau_milli,"
        f" CAST(floor(({expr}) * 1000000.0) AS BIGINT) AS w_micro)"
        for tau, expr in _TAU_EXPRS.items()
    )
    swept = toks.select(
        "source",
        "total_ct",
        F.explode(F.expr(f"array({rows})")).alias("t"),
    ).select(
        F.col("t.tau_milli").alias("tau_milli"),
        "source",
        F.col("total_ct").alias("tokens_available"),
        F.col("t.w_micro").alias("w_micro"),
    )
    # quota product rides DECIMAL(38,0): the tau=1 arm's w_micro is
    # total_ct * 1e6, so BUDGET * w_micro blows int64 past ~9.2e7 tokens
    # per source (w_micro itself holds to ~9.2e12 — document before
    # raising SWEEP_BUDGET). Zero normalizer (every doc tokenizes empty)
    # -> quota 0, identically on both engines.
    return swept.select(
        "tau_milli",
        "source",
        "tokens_available",
        "w_micro",
        F.expr(
            f"CAST(CASE WHEN sum(w_micro)"
            f" OVER (PARTITION BY tau_milli) = 0 THEN 0"
            f" ELSE CAST({SWEEP_BUDGET} AS DECIMAL(38,0)) * w_micro div"
            f" (sum(w_micro) OVER (PARTITION BY tau_milli)) END"
            f" AS BIGINT)"
        ).alias("quota_tokens"),
    )


def _mixture_sweep_sql() -> str:
    arms = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({tau} AS BIGINT) AS tau_milli, source,"
        f" total_ct AS tokens_available,"
        f" CAST(floor(({expr}) * 1000000.0) AS BIGINT) AS w_micro FROM toks"
        for tau, expr in _TAU_EXPRS.items()
    )
    return f"""
WITH toks AS (
    SELECT source,
           CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
                AS BIGINT) AS total_ct
    FROM documents WHERE text IS NOT NULL
    GROUP BY 1
),
swept AS (
    {arms}
)
SELECT tau_milli, source, tokens_available, w_micro,
       CAST(CASE WHEN sum(w_micro) OVER (PARTITION BY tau_milli) = 0
            THEN 0
            ELSE CAST({SWEEP_BUDGET} AS HUGEINT) * w_micro //
                 (sum(w_micro) OVER (PARTITION BY tau_milli)) END
            AS BIGINT) AS quota_tokens
FROM swept
"""


# ---------------------------------------------------------------------------
# Wave 36b: word2vec-style negative-sampling table (Mikolov et al. 2013:
# unigram counts raised to the 3/4 power) — the token-level artifact a
# contrastive/embedding training run draws negatives from. Same exact-
# sqrt composition as the sweep above (c^(3/4) = sqrt(c)*sqrt(sqrt(c)),
# never pow); the table is top-V by (count DESC, token ASC) so the
# output is vocab-bounded at any corpus size; probabilities are micro
# units normalized WITHIN the table (as word2vec normalizes over its
# vocab), the w*1e6 product riding DECIMAL(38,0) (w ~ c^0.75 * 1e6
# exceeds BIGINT*1e6 headroom past ~1e12-token corpora).
# Scale: one (token) combine with map-side partials, one top-V rank on
# the vocab-bounded frame, |V| rows of arithmetic.
# ---------------------------------------------------------------------------
NEG_TABLE_V = 64


def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    w = Window.orderBy(F.col("ct").desc(), "token")
    top = (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= NEG_TABLE_V)
        .withColumn(
            "w_micro",
            F.expr(
                "CAST(floor(sqrt(CAST(ct AS DOUBLE))"
                " * sqrt(sqrt(CAST(ct AS DOUBLE))) * 1000000.0) AS BIGINT)"
            ),
        )
    )
    return top.select(
        "token",
        "ct",
        "rnk",
        "w_micro",
        F.expr(
            "CAST(CAST(w_micro AS DECIMAL(38,0)) * 1000000"
            " div (sum(w_micro) OVER ()) AS BIGINT)"
        ).alias("prob_micro"),
    )


_NEG_TABLE_SQL = f"""
WITH counts AS (
    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
    FROM documents WHERE text IS NOT NULL
),
agg AS (
    SELECT token, CAST(count(*) AS BIGINT) AS ct FROM counts GROUP BY 1
),
top AS (
    SELECT token, ct,
           CAST(row_number() OVER (ORDER BY ct DESC, token) AS INTEGER)
               AS rnk,
           CAST(floor(sqrt(CAST(ct AS DOUBLE))
                * sqrt(sqrt(CAST(ct AS DOUBLE))) * 1000000.0) AS BIGINT)
               AS w_micro
    FROM agg
    QUALIFY rnk <= {NEG_TABLE_V}
)
SELECT token, ct, rnk, w_micro,
       CAST(CAST(w_micro AS HUGEINT) * 1000000
            // (sum(w_micro) OVER ()) AS BIGINT) AS prob_micro
FROM top
"""


# ---------------------------------------------------------------------------
# Wave 50a (r10): synthetic-text watermark detection (Kirchenbauer et al.
# 2023, "A Watermark for Large Language Models"). A watermarking decoder
# seeds a green/red vocabulary split from each previous token and biases
# sampling toward the green list; the detector recounts, for every scored
# transition (prev -> cur), whether cur landed green, and computes the
# one-proportion z statistic z = (g - gamma*T) / sqrt(T*gamma*(1-gamma)).
# As corpora fill with model output, this screen is how a pretraining prep
# keeps synthetic text out of (or quarantined within) the mix.
#
# Deterministic derivation both engines share: green(prev, cur) iff the
# first hex digit of md5(prev || '|' || cur) < '4' (gamma = 1/4 — the
# "hash of the previous token seeds the partition" rule of the paper,
# collapsed to the transition hash since the container runs no LLM RNG).
# With gamma = 1/4 the numerator 4g - T is exact BIGINT; z reduces to
# (4g - T) / sqrt(3T) — ONE double division against one IEEE-exact sqrt,
# floored to micro on both sides (the repo's standing float doctrine).
# Decision threshold z >= 4 (the paper's detection operating point).
#
# Scale: the entire scoring is in-row codegen (aggregate over the token
# array — no shuffle, no join, embarrassingly parallel); the per-source
# rollup is a tiny-key combine. 100 TB = scan-bound.
# ---------------------------------------------------------------------------
WM_Z_KEEP_MICRO = 4_000_000  # z >= 4 => watermarked

# Shared Spark-side pieces — the streaming twin reuses these verbatim so
# the per-doc greenlist arithmetic cannot drift between the two.
WM_GREEN_EXPR = (
    "aggregate(sequence(1, size(tok_arr) - 1), 0L, (acc, i) -> "
    "acc + IF(substring(md5(concat(tok_arr[i-1], '|', tok_arr[i])),"
    " 1, 1) < '4', 1L, 0L))"
)
WM_Z_EXPR = (
    "CASE WHEN scored = 0 THEN 0 ELSE "
    "CAST(floor(CAST(4 * green - scored AS DOUBLE)"
    " / sqrt(CAST(3 * scored AS DOUBLE)) * 1000000.0) AS BIGINT)"
    " END"
)


def _wm_doc_stats(docs: DataFrame, *keep: str) -> DataFrame:
    """Per-doc (scored, green) greenlist counters over a frame that
    already has tok_arr; extra columns in ``keep`` pass through."""
    return docs.select(
        *keep,
        F.greatest(F.size("tok_arr") - F.lit(1), F.lit(0))
        .cast("bigint")
        .alias("scored"),
        F.when(F.size("tok_arr") < 2, F.lit(0).cast("bigint"))
        .otherwise(F.expr(WM_GREEN_EXPR))
        .alias("green"),
    )


def synthetic_watermark_detect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .withColumn("tok_arr", tokens("text"))
    )
    z = _wm_doc_stats(docs, "doc_id").withColumn(
        "z_micro", F.expr(WM_Z_EXPR)
    )
    return z.select(
        "doc_id",
        "scored",
        "green",
        "z_micro",
        F.when(F.col("z_micro") >= WM_Z_KEEP_MICRO, "watermarked")
        .otherwise("clean")
        .alias("verdict"),
    )


# Shared DuckDB CTEs (per-doc greenlist counters, with source carried
# through for the streaming twin's pooled rollup).
_WM_DOC_CTES = """d AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, source,
         CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS scored,
         CAST(CASE WHEN len(toks) < 2 THEN 0 ELSE
           len(list_filter(toks, (x, i) -> i > 1 AND
               substr(md5(toks[i - 1] || '|' || x), 1, 1) < '4'))
           END AS BIGINT) AS green
  FROM d
)"""

_WM_Z_SQL = """CASE WHEN scored = 0 THEN 0 ELSE
           CAST(floor(CAST(4 * green - scored AS DOUBLE)
                / sqrt(CAST(3 * scored AS DOUBLE)) * 1000000.0) AS BIGINT)
           END"""

_WATERMARK_SQL = f"""
WITH {_WM_DOC_CTES},
z AS (
  SELECT doc_id, scored, green, {_WM_Z_SQL} AS z_micro
  FROM g
)
SELECT doc_id, scored, green, z_micro,
       CASE WHEN z_micro >= {WM_Z_KEEP_MICRO} THEN 'watermarked'
            ELSE 'clean' END AS verdict
FROM z
"""


# ---------------------------------------------------------------------------
# Wave 51b (r10): fill-in-the-middle transform accounting (Bavarian et
# al. 2022, "Efficient Training of Language Models to Fill in the
# Middle"). A FIM prep rewrites a fraction psi of documents from
# (prefix, middle, suffix) into [PRE]prefix[SUF]suffix[MID]middle (PSM)
# or the SPM variant, adding 3 sentinel tokens per transformed doc; the
# paper's headline knobs are psi (0.5), the PSM/SPM mix, and the span
# length distribution. This operator emits the per-(lang, mode) planning
# table a FIM prep checks before committing the rewrite: doc counts,
# sentinel-token overhead, and the prefix/middle/suffix token masses.
#
# Deterministic derivation both engines share: selection iff first hex
# of md5('fim|' || doc_id) < '8' (psi = 1/2); two cut points from the
# next two hex pairs, c = least/greatest of two values in [1, n-1] (an
# empty middle when they collide is legal — the paper permits empty
# spans); PSM vs SPM from hex digit 7. Docs with < 4 tokens are never
# transformed (mode 'skip'). All-integer arithmetic end to end.
#
# Scale: per-row codegen (hashes + arithmetic on the token count — the
# token array itself is never exploded), then ONE tiny (lang, mode)
# combine. Scan-bound at 100 TB.
# ---------------------------------------------------------------------------
FIM_MIN_TOKENS = 4


def fim_transform_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.size(tokens("text")).cast("bigint").alias("n_tok"),
        )
    )
    h = docs.withColumn("h", F.md5(F.concat(F.lit("fim|"), F.col("doc_id"))))
    staged = h.select(
        "doc_id",
        "lang",
        "n_tok",
        F.expr(
            f"substring(h, 1, 1) < '8' AND n_tok >= {FIM_MIN_TOKENS}"
        ).alias("fim"),
        F.expr(
            "CAST(conv(substring(h, 2, 2), 16, 10) AS BIGINT)"
        ).alias("r1"),
        F.expr(
            "CAST(conv(substring(h, 4, 2), 16, 10) AS BIGINT)"
        ).alias("r2"),
        F.expr("substring(h, 7, 1) < '8'").alias("psm"),
    )
    cuts = staged.select(
        "lang",
        "n_tok",
        F.when(
            F.col("fim"),
            F.when(F.col("psm"), F.lit("psm")).otherwise(F.lit("spm")),
        )
        .otherwise(F.lit("skip"))
        .alias("mode"),
        F.when(
            F.col("fim"), F.expr("least(r1 % (n_tok - 1), r2 % (n_tok - 1)) + 1")
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("c1"),
        F.when(
            F.col("fim"),
            F.expr("greatest(r1 % (n_tok - 1), r2 % (n_tok - 1)) + 1"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("c2"),
    )
    return (
        cuts.groupBy("lang", "mode")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").alias("tok_in"),
            F.sum(
                F.when(F.col("mode") != "skip", 3).otherwise(0)
            )
            .cast("bigint")
            .alias("sentinel_tok"),
            F.sum(F.when(F.col("mode") != "skip", F.col("c1")).otherwise(0))
            .cast("bigint")
            .alias("prefix_tok"),
            F.sum(
                F.when(
                    F.col("mode") != "skip", F.col("c2") - F.col("c1")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("middle_tok"),
            F.sum(
                F.when(
                    F.col("mode") != "skip", F.col("n_tok") - F.col("c2")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("suffix_tok"),
        )
        .withColumn(
            "middle_share_micro",
            F.expr(
                "CASE WHEN tok_in = 0 THEN 0"
                " ELSE middle_tok * 1000000 div tok_in END"
            ),
        )
    )


_FIM_SQL = f"""
WITH d AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n_tok,
         md5('fim|' || doc_id) AS h
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
staged AS (
  SELECT doc_id, lang, n_tok,
         substr(h, 1, 1) < '8' AND n_tok >= {FIM_MIN_TOKENS} AS fim,
         CAST(TRY_CAST('0x' || substr(h, 2, 2) AS INTEGER) AS BIGINT) AS r1,
         CAST(TRY_CAST('0x' || substr(h, 4, 2) AS INTEGER) AS BIGINT) AS r2,
         substr(h, 7, 1) < '8' AS psm
  FROM d
),
cuts AS (
  SELECT lang, n_tok,
         CASE WHEN fim THEN (CASE WHEN psm THEN 'psm' ELSE 'spm' END)
              ELSE 'skip' END AS mode,
         CAST(CASE WHEN fim
              THEN least(r1 % (n_tok - 1), r2 % (n_tok - 1)) + 1
              ELSE 0 END AS BIGINT) AS c1,
         CAST(CASE WHEN fim
              THEN greatest(r1 % (n_tok - 1), r2 % (n_tok - 1)) + 1
              ELSE 0 END AS BIGINT) AS c2
  FROM staged
),
agg AS (
  SELECT lang, mode,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS tok_in,
         CAST(sum(CASE WHEN mode <> 'skip' THEN 3 ELSE 0 END) AS BIGINT)
             AS sentinel_tok,
         CAST(sum(CASE WHEN mode <> 'skip' THEN c1 ELSE 0 END) AS BIGINT)
             AS prefix_tok,
         CAST(sum(CASE WHEN mode <> 'skip' THEN c2 - c1 ELSE 0 END)
              AS BIGINT) AS middle_tok,
         CAST(sum(CASE WHEN mode <> 'skip' THEN n_tok - c2 ELSE 0 END)
              AS BIGINT) AS suffix_tok
  FROM cuts GROUP BY 1, 2
)
SELECT *,
       CAST(CASE WHEN tok_in = 0 THEN 0
            ELSE middle_tok * 1000000 // tok_in END AS BIGINT)
           AS middle_share_micro
FROM agg
"""


# ---------------------------------------------------------------------------
# Wave 53b (r10): cross-lingual tokenizer-parity audit (Petrov et al.
# 2023, "Language Model Tokenizers Introduce Unfairness Between
# Languages"): the same content costs different token counts per
# language ("byte premium"), which skews context budgets, API pricing,
# and mixture token targets. The audit table: per language, character
# and token masses, chars-per-token, and the premium relative to the
# corpus's PIVOT language (the best-resourced one — the language with
# the largest token mass, deterministic tie-break by lang asc).
#
# premium is computed as TWO chained integer micro-divisions
# (chars_per_tok_micro = chars*1e6 div toks, then pivot-relative
# premium_micro = cpt_pivot * 1e6 div cpt_lang — note the direction: a
# language CHEAPER per char than the pivot scores < 1e6), keeping every
# intermediate within checked-BIGINT range at any corpus size (chars *
# 1e6 crosses INT64 around 9.2e12 chars per language — ~9 TB of text in
# ONE language; the plan note documents the DECIMAL(38) escape hatch).
#
# Scale: one tiny per-lang combine with map-side partials; the pivot row
# is a broadcast crossJoin. Scan-bound.
# ---------------------------------------------------------------------------


def tokenizer_parity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_lang = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("chars_total"),
            F.sum(F.size(tokens("text")))
            .cast("bigint")
            .alias("tokens_total"),
        )
        .filter(F.col("tokens_total") > 0)
        .withColumn(
            "chars_per_tok_micro",
            F.expr("chars_total * 1000000 div tokens_total"),
        )
    )
    pivot = per_lang.agg(
        F.expr(
            "min_by(struct(lang, chars_per_tok_micro),"
            " struct(-tokens_total, lang))"
        ).alias("p")
    ).select(
        F.col("p.lang").alias("pivot_lang"),
        F.col("p.chars_per_tok_micro").alias("pivot_cpt_micro"),
    )
    return per_lang.crossJoin(F.broadcast(pivot)).select(
        "lang",
        "n_docs",
        "chars_total",
        "tokens_total",
        "chars_per_tok_micro",
        "pivot_lang",
        F.expr(
            "pivot_cpt_micro * 1000000 div chars_per_tok_micro"
        ).alias("premium_micro"),
    )


_TOK_PARITY_SQL = """
WITH per_lang AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(length(text)) AS BIGINT) AS chars_total,
         CAST(sum(len(list_filter(string_split(text, ' '),
                                  x -> x <> ''))) AS BIGINT)
             AS tokens_total
  FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL
  GROUP BY 1
),
cpt AS (
  SELECT *, chars_total * 1000000 // tokens_total
             AS chars_per_tok_micro
  FROM per_lang WHERE tokens_total > 0
),
pv AS (
  SELECT lang AS pivot_lang,
         chars_per_tok_micro AS pivot_cpt_micro
  FROM cpt ORDER BY tokens_total DESC, lang LIMIT 1
)
SELECT c.lang, c.n_docs, c.chars_total, c.tokens_total,
       CAST(c.chars_per_tok_micro AS BIGINT) AS chars_per_tok_micro,
       p.pivot_lang,
       CAST(p.pivot_cpt_micro * 1000000 // c.chars_per_tok_micro
            AS BIGINT) AS premium_micro
FROM cpt c CROSS JOIN pv p
"""


# ---------------------------------------------------------------------------
# Wave 54a (r10): in-batch negative collision audit. Contrastive training
# (CLIP / InfoNCE / DPR) treats every other item in the batch as a
# negative; two same-source items in one batch are likely FALSE negatives
# (near-duplicate or topically identical), which measurably degrades the
# embedding (the "false negative" problem — Huynh et al. 2022 and the
# DPR/CLIP data-prep folklore). Before training, the prep audits its
# batch sharding: per batch, how many of the C(n,2) negative pairs
# collide on source. Batch assignment is the registry's standing md5
# shard rule (what epoch_shard_plan ships), so this audits the ACTUAL
# batches that sharding would produce.
#
# Scale: one (batch, source) combine -> per-batch combine; collisions =
# sum C(n_s, 2) computed from group sizes — never a pair join. Exact
# integers end to end; collision_micro = collisions*1e6 div pairs.
# ---------------------------------------------------------------------------
NEG_AUDIT_BATCHES = 64


def inbatch_negative_collision_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    assigned = docs.select(
        "source",
        F.expr(
            f"CAST(conv(substring(md5(concat('batch|', doc_id)), 1, 8),"
            f" 16, 10) AS BIGINT) % {NEG_AUDIT_BATCHES}"
        ).alias("batch_id"),
    )
    per_src = assigned.groupBy("batch_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s")
    )
    per_batch = per_src.groupBy("batch_id").agg(
        F.sum("n_s").cast("bigint").alias("n_items"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.sum(F.expr("n_s * (n_s - 1) div 2"))
        .cast("bigint")
        .alias("collisions"),
        F.max("n_s").cast("bigint").alias("max_source_run"),
    )
    return per_batch.select(
        "batch_id",
        "n_items",
        "n_sources",
        "collisions",
        "max_source_run",
        F.expr(
            "CASE WHEN n_items < 2 THEN 0 ELSE collisions * 1000000"
            " div (n_items * (n_items - 1) div 2) END"
        ).alias("collision_micro"),
    )


_NEG_AUDIT_SQL = f"""
WITH assigned AS (
  SELECT source,
         TRY_CAST('0x' || substr(md5('batch|' || doc_id), 1, 8)
                  AS BIGINT) % {NEG_AUDIT_BATCHES} AS batch_id
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
per_src AS (
  SELECT batch_id, source, CAST(count(*) AS BIGINT) AS n_s
  FROM assigned GROUP BY 1, 2
),
per_batch AS (
  SELECT batch_id,
         CAST(sum(n_s) AS BIGINT) AS n_items,
         CAST(count(*) AS BIGINT) AS n_sources,
         CAST(sum(n_s * (n_s - 1) // 2) AS BIGINT) AS collisions,
         CAST(max(n_s) AS BIGINT) AS max_source_run
  FROM per_src GROUP BY 1
)
SELECT batch_id, n_items, n_sources, collisions, max_source_run,
       CAST(CASE WHEN n_items < 2 THEN 0 ELSE collisions * 1000000
            // (n_items * (n_items - 1) // 2) END AS BIGINT)
           AS collision_micro
FROM per_batch
"""


# ---------------------------------------------------------------------------
# Wave 54b (r10): filter-cascade order planner. A curation pipeline runs
# its gates in sequence and each gate only sees the previous gates'
# survivors, so at 100 TB the ORDER of filters is a first-order cost
# knob (run cheap high-rejection gates first — the classifier-cascade
# rule, Viola-Jones 2001, applied to data curation). This operator
# measures the EXACT JOINT pass-pattern distribution of four gates over
# the corpus (one combine to <= 16 pattern rows — no independence
# approximation), then scores all 24 orderings: expected per-doc cost =
# sum over patterns of ct * (c_o1 + [pass o1]*c_o2 + [pass o1^o2]*c_o3
# + [pass o1^o2^o3]*c_o4) / n. Gate set (stand-ins with the repo's
# standing derivations; production swaps its own predicates — the
# planner math is the artifact): LEN (token count in [5,60], cost 1),
# CPT (chars-per-token micro in [5.3e6, 5.7e6], cost 2), STOP (stopword
# share <= 10%, cost 3), DUP (no byte-exact duplicate — needs a corpus
# shuffle, cost 10).
#
# Scale: one scan computes all four flags per doc (the DUP flag joins
# the md5 group counts — SHUFFLE_HASH-pinned); the joint is <= 16 rows;
# the 24 x 16 scoring frame is driver-tiny at any corpus size.
# ---------------------------------------------------------------------------
CASCADE_COSTS = {1: 1, 2: 2, 3: 3, 4: 10}  # filter id -> unit cost
CASCADE_NAMES = {1: "len", 2: "cpt", 3: "stop", 4: "dup"}
_CASCADE_ORDERINGS = [
    (a, b, c, d)
    for a in (1, 2, 3, 4)
    for b in (1, 2, 3, 4)
    for c in (1, 2, 3, 4)
    for d in (1, 2, 3, 4)
    if len({a, b, c, d}) == 4
]


def _cascade_pass_sql(engine_pick: str) -> str:
    """pass-bit lookup by filter id: engine_pick is 'f1'/'f2'/'f3'/'f4'
    column name holding the filter id at that cascade position."""
    return (
        f"CASE {engine_pick} WHEN 1 THEN p1 WHEN 2 THEN p2 "
        f"WHEN 3 THEN p3 ELSE p4 END"
    )


def _cascade_cost_sql(col: str) -> str:
    arms = " ".join(
        f"WHEN {fid} THEN {c}" for fid, c in CASCADE_COSTS.items()
    )
    return f"CASE {col} {arms} END"


def filter_cascade_order_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    flags = docs.select(
        "doc_id",
        F.md5("text").alias("th"),
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(
            F.filter(
                tokens("text"),
                lambda x: (x == F.lit("a")) | (x == F.lit("the")),
            )
        )
        .cast("bigint")
        .alias("n_stop"),
    )
    # r11 (guide §2.4 "a window keyed like the aggregation needs no second
    # shuffle"): `copies` used to be a groupBy(th) aggregate shuffle-hash-
    # joined back onto flags — TWO th-keyed exchanges of the per-doc frame
    # and a duplicate evaluation of the md5+tokenize projection (one per
    # join side). A count window over th is the same value with ONE
    # exchange and one flags evaluation.
    j = flags.withColumn(
        "copies",
        F.count(F.lit(1)).over(Window.partitionBy("th")).cast("bigint"),
    )
    pat = j.select(
        F.expr("CAST(n_tok BETWEEN 5 AND 60 AS INT)").alias("p1"),
        # nullif: ANSI codegen evaluates both conjuncts, so a plain
        # n_tok > 0 guard does NOT protect the division on zero-token
        # docs (caught by the NULL fixture's whitespace-only row)
        F.expr(
            "CAST(coalesce(n_chars * 1000000 div nullif(n_tok, 0)"
            " BETWEEN 5300000 AND 5700000, false) AS INT)"
        ).alias("p2"),
        F.expr(
            "CAST(coalesce(n_stop * 1000000 div nullif(n_tok, 0)"
            " <= 100000, false) AS INT)"
        ).alias("p3"),
        F.expr("CAST(copies = 1 AS INT)").alias("p4"),
    )
    joint = pat.groupBy("p1", "p2", "p3", "p4").agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
    )
    orderings = spark.createDataFrame(
        [
            (
                ">".join(CASCADE_NAMES[f] for f in o),
                o[0],
                o[1],
                o[2],
                o[3],
            )
            for o in _CASCADE_ORDERINGS
        ],
        "ordering string, f1 int, f2 int, f3 int, f4 int",
    )
    scored = joint.crossJoin(F.broadcast(orderings)).select(
        "ordering",
        "ct",
        F.expr(
            f"ct * ({_cascade_cost_sql('f1')}"
            f" + ({_cascade_pass_sql('f1')})"
            f"   * ({_cascade_cost_sql('f2')}"
            f"      + ({_cascade_pass_sql('f2')})"
            f"        * ({_cascade_cost_sql('f3')}"
            f"           + ({_cascade_pass_sql('f3')})"
            f"             * ({_cascade_cost_sql('f4')}))))"
        )
        .cast("bigint")
        .alias("cost_units"),
    )
    agg = scored.groupBy("ordering").agg(
        F.sum("ct").cast("bigint").alias("n_docs"),
        F.sum("cost_units").cast("bigint").alias("cost_units"),
    )
    w = Window.orderBy(F.asc("cost_units"), F.asc("ordering"))
    return agg.select(
        "ordering",
        "n_docs",
        "cost_units",
        F.expr(
            "CASE WHEN n_docs = 0 THEN 0"
            " ELSE cost_units * 1000000 div n_docs END"
        ).alias("cost_per_doc_micro"),
    ).withColumn("rank", F.row_number().over(w).cast("bigint"))


def _cascade_sql() -> str:
    vals = ", ".join(
        "('{}', {}, {}, {}, {})".format(
            ">".join(CASCADE_NAMES[f] for f in o), *o
        )
        for o in _CASCADE_ORDERINGS
    )
    return f"""
WITH flags AS (
  SELECT doc_id, md5(text) AS th,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n_tok,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> x IN ('a', 'the'))) AS BIGINT)
             AS n_stop
  FROM documents WHERE text IS NOT NULL
),
grp AS (
  SELECT th, CAST(count(*) AS BIGINT) AS copies FROM flags GROUP BY 1
),
pat AS (
  SELECT CAST(f.n_tok BETWEEN 5 AND 60 AS INT) AS p1,
         CAST(coalesce(f.n_chars * 1000000 // nullif(f.n_tok, 0)
              BETWEEN 5300000 AND 5700000, false) AS INT) AS p2,
         CAST(coalesce(f.n_stop * 1000000 // nullif(f.n_tok, 0)
              <= 100000, false) AS INT) AS p3,
         CAST(g.copies = 1 AS INT) AS p4
  FROM flags f JOIN grp g USING (th)
),
joint AS (
  SELECT p1, p2, p3, p4, CAST(count(*) AS BIGINT) AS ct
  FROM pat GROUP BY 1, 2, 3, 4
),
ords(ordering, f1, f2, f3, f4) AS (VALUES {vals}),
scored AS (
  SELECT o.ordering, j.ct,
         CAST(j.ct * ({_cascade_cost_sql('o.f1')}
              + ({_cascade_pass_sql('o.f1')})
                * ({_cascade_cost_sql('o.f2')}
                   + ({_cascade_pass_sql('o.f2')})
                     * ({_cascade_cost_sql('o.f3')}
                        + ({_cascade_pass_sql('o.f3')})
                          * ({_cascade_cost_sql('o.f4')}))))
              AS BIGINT) AS cost_units
  FROM joint j CROSS JOIN ords o
),
agg AS (
  SELECT ordering,
         CAST(sum(ct) AS BIGINT) AS n_docs,
         CAST(sum(cost_units) AS BIGINT) AS cost_units
  FROM scored GROUP BY 1
)
SELECT ordering, n_docs, cost_units,
       CAST(CASE WHEN n_docs = 0 THEN 0
            ELSE cost_units * 1000000 // n_docs END AS BIGINT)
           AS cost_per_doc_micro,
       CAST(row_number() OVER (ORDER BY cost_units, ordering)
            AS BIGINT) AS rank
FROM agg
"""


# ---------------------------------------------------------------------------
# Wave 55b (r10): repeated-epoch value plan (Muennighoff et al. 2023,
# "Scaling Data-Constrained Language Models": repeating data is worth
# less each epoch — their fit has repeated tokens decaying in value,
# with ~4 epochs nearly free and value gone by ~R*≈15 repeats). The
# planning table a data-constrained run consults: per language, the
# deduplicated (unique) token supply, and for k = 1..8 epochs the
# marginal value of epoch k and the cumulative EFFECTIVE token count
# U · Σ_{{i<=k}} δ^{{i-1}}.
#
# The decay powers are data-independent, so (the NDCG-discount doctrine)
# they are precomputed ONCE in Python as a floored micro chain
# (v_1 = 1e6; v_{{k+1}} = v_k·δ_micro div 1e6, δ_micro = 750000 — a
# documented stand-in for the paper's fitted decay) and embedded as the
# SAME integer literals in both renderings. Engine-side arithmetic is
# U·cum_k div 1e6 — exact BIGINT.
#
# Scale: unique-token supply = one md5-group combine (keep the
# group-min doc as the survivor, the dedup_exact rule) + one per-lang
# combine; the k-expansion is an 8-element literal explode. Scan-bound.
# ---------------------------------------------------------------------------
EPOCH_DECAY_MICRO = 750_000
EPOCH_MAX_K = 8


def _epoch_values() -> list[tuple[int, int, int]]:
    vals, v, cum = [], 1_000_000, 0
    for k in range(1, EPOCH_MAX_K + 1):
        cum += v
        vals.append((k, v, cum))
        v = v * EPOCH_DECAY_MICRO // 1_000_000
    return vals


EPOCH_VALUE_TABLE = _epoch_values()


def repeated_epoch_value_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.md5("text").alias("th"),
            F.size(tokens("text")).cast("bigint").alias("n_tok"),
        )
    )
    surv = (
        docs.groupBy("lang", "th")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("copies"),
            # identical text => identical n_tok; min is the
            # deterministic spelling of "the group's value"
            F.min("n_tok").cast("bigint").alias("n_tok"),
        )
        .groupBy("lang")
        .agg(
            F.sum(F.expr("copies * n_tok"))
            .cast("bigint")
            .alias("total_tokens"),
            F.sum("n_tok").cast("bigint").alias("unique_tokens"),
        )
    )
    ktab = spark.createDataFrame(
        EPOCH_VALUE_TABLE,
        "k int, marginal_value_micro bigint, cum_value_micro bigint",
    )
    return surv.crossJoin(F.broadcast(ktab)).select(
        "lang",
        "total_tokens",
        "unique_tokens",
        "k",
        "marginal_value_micro",
        F.expr(
            "unique_tokens * cum_value_micro div 1000000"
        ).alias("effective_tokens"),
    )


def _epoch_value_sql() -> str:
    vals = ", ".join(f"({k}, {v}, {c})" for k, v, c in EPOCH_VALUE_TABLE)
    return f"""
WITH docs AS (
  SELECT doc_id, lang, md5(text) AS th,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n_tok
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
grp AS (
  SELECT lang, th,
         CAST(count(*) AS BIGINT) AS copies,
         CAST(min(n_tok) AS BIGINT) AS n_tok
  FROM docs GROUP BY 1, 2
),
surv AS (
  SELECT lang,
         CAST(sum(copies * n_tok) AS BIGINT) AS total_tokens,
         CAST(sum(n_tok) AS BIGINT) AS unique_tokens
  FROM grp GROUP BY 1
),
ktab(k, marginal_value_micro, cum_value_micro) AS (VALUES {vals})
SELECT s.lang, s.total_tokens, s.unique_tokens,
       CAST(k.k AS INT) AS k,
       CAST(k.marginal_value_micro AS BIGINT) AS marginal_value_micro,
       CAST(s.unique_tokens * k.cum_value_micro // 1000000 AS BIGINT)
           AS effective_tokens
FROM surv s CROSS JOIN ktab k
"""


# ---------------------------------------------------------------------------
# Wave 56b (r10): prompt-prefix cache plan. Inference-side prompt/prefix
# caching (vLLM automatic prefix caching, the RadixAttention trie of
# SGLang, Zheng et al. 2023) reuses the KV cache of any request sharing
# a token prefix with a previous one; the serving-side planning question
# is "at which prefix length does my traffic actually share?". This
# operator computes the sharing curve: for each candidate prefix length
# K, how many K-token prefix groups exist, how many requests land in a
# shared group, and how many prefix tokens a perfect prefix cache would
# serve from cache (Σ (n_g - 1)·K over groups).
#
# Scale: one scan builds all |KS| prefixes per doc in-row (slices of the
# token array — no explode of tokens, only the 4-element K explode);
# one (K, prefix) combine -> one per-K combine. Map-side partials; the
# prefix cardinality is bounded by corpus size, never token count.
# ---------------------------------------------------------------------------
PREFIX_CACHE_KS = (1, 2, 4, 8)


def prompt_prefix_cache_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .withColumn("tok_arr", tokens("text"))
    )
    ks = ", ".join(str(k) for k in PREFIX_CACHE_KS)
    pref = docs.select(
        F.explode(
            F.expr(
                f"filter(transform(array({ks}), k -> CASE WHEN"
                f" size(tok_arr) >= k THEN struct(k AS k,"
                f" array_join(slice(tok_arr, 1, k), ' ') AS prefix)"
                f" END), p -> p IS NOT NULL)"
            )
        ).alias("p")
    ).select(F.col("p.k").alias("k"), F.col("p.prefix").alias("prefix"))
    groups = pref.groupBy("k", "prefix").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g")
    )
    return (
        groups.groupBy("k")
        .agg(
            F.sum("n_g").cast("bigint").alias("n_requests"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("n_g") >= 2, F.col("n_g")).otherwise(0))
            .cast("bigint")
            .alias("shared_requests"),
            F.sum(F.expr("(n_g - 1) * k"))
            .cast("bigint")
            .alias("cacheable_tokens"),
        )
        .withColumn(
            "hit_rate_micro",
            F.expr(
                "CASE WHEN n_requests = 0 THEN 0 ELSE"
                " (n_requests - n_groups) * 1000000 div n_requests END"
            ),
        )
    )


def _prefix_cache_sql() -> str:
    ks = ", ".join(str(k) for k in PREFIX_CACHE_KS)
    return f"""
WITH docs AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents WHERE text IS NOT NULL
),
pref AS (
  SELECT u.k AS k, array_to_string(d.t[1:u.k], ' ') AS prefix
  FROM docs d, (SELECT unnest([{ks}]) AS k) u
  WHERE len(d.t) >= u.k
),
groups AS (
  SELECT k, prefix, CAST(count(*) AS BIGINT) AS n_g
  FROM pref GROUP BY 1, 2
),
agg AS (
  SELECT k,
         CAST(sum(n_g) AS BIGINT) AS n_requests,
         CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(CASE WHEN n_g >= 2 THEN n_g ELSE 0 END) AS BIGINT)
             AS shared_requests,
         CAST(sum((n_g - 1) * k) AS BIGINT) AS cacheable_tokens
  FROM groups GROUP BY 1
)
SELECT CAST(k AS INT) AS k, n_requests, n_groups, shared_requests,
       cacheable_tokens,
       CAST(CASE WHEN n_requests = 0 THEN 0 ELSE
            (n_requests - n_groups) * 1000000 // n_requests END
            AS BIGINT) AS hit_rate_micro
FROM agg
"""


QUERIES = {
    "synthetic_watermark_detect": synthetic_watermark_detect,
    "fim_transform_plan": fim_transform_plan,
    "tokenizer_parity_audit": tokenizer_parity_audit,
    "inbatch_negative_collision_audit": inbatch_negative_collision_audit,
    "filter_cascade_order_plan": filter_cascade_order_plan,
    "repeated_epoch_value_plan": repeated_epoch_value_plan,
    "prompt_prefix_cache_plan": prompt_prefix_cache_plan,
    "sequence_length_bucketing": sequence_length_bucketing,
    "domain_frequency_cap": domain_frequency_cap,
    "robots_blocklist_filter": robots_blocklist_filter,
    "tokenizer_vocab_coverage": tokenizer_vocab_coverage,
    "epoch_shard_plan": epoch_shard_plan,
    "warc_record_parse": warc_record_parse,
    "web_front_door_recipe": web_front_door_recipe,
    "crawl_to_train_funnel": crawl_to_train_funnel,
    "curriculum_order_plan": curriculum_order_plan,
    "robots_rule_eval": robots_rule_eval,
    "crawl_frontier_plan": crawl_frontier_plan,
    "host_quality_shrinkage": host_quality_shrinkage,
    "vocab_growth_curve": vocab_growth_curve,
    "mixture_shard_conformance": mixture_shard_conformance,
    "badword_ratio_filter": badword_ratio_filter,
    "token_budget_mixture": token_budget_mixture,
    "mixture_temperature_sweep": mixture_temperature_sweep,
    "negative_sampling_table": negative_sampling_table,
    "importance_weight_selection": importance_weight_selection,
    "vocab_concentration_simpson": vocab_concentration_simpson,
    "filter_ablation_matrix": filter_ablation_matrix,
    "dataset_card_rollup": dataset_card_rollup,
    "decontaminate_ngram_overlap": decontaminate_ngram_overlap,
    "repetition_filter": repetition_filter,
    "pii_scrub_stats": pii_scrub_stats,
    "doc_pack_greedy": doc_pack_greedy,
    "knn_label_vote": knn_label_vote,
    "lang_mix_rebalance": lang_mix_rebalance,
    "domain_mixture_temperature": domain_mixture_temperature,
    "pretrain_data_recipe": pretrain_data_recipe,
    "split_leakage_audit": split_leakage_audit,
    "contamination_longest_match": contamination_longest_match,
    "ngram_novelty_rate": ngram_novelty_rate,
    "weighted_sample_priority": weighted_sample_priority,
}

ORACLE = {
    "synthetic_watermark_detect": _WATERMARK_SQL,
    "fim_transform_plan": _FIM_SQL,
    "tokenizer_parity_audit": _TOK_PARITY_SQL,
    "inbatch_negative_collision_audit": _NEG_AUDIT_SQL,
    "filter_cascade_order_plan": _cascade_sql(),
    "repeated_epoch_value_plan": _epoch_value_sql(),
    "prompt_prefix_cache_plan": _prefix_cache_sql(),
    "sequence_length_bucketing": _SEQ_BUCKET_SQL,
    "domain_frequency_cap": _DOMAIN_CAP_SQL,
    "robots_blocklist_filter": _BLOCKLIST_SQL,
    "tokenizer_vocab_coverage": _VOCAB_COVERAGE_SQL,
    "epoch_shard_plan": _EPOCH_SHARD_SQL,
    "warc_record_parse": _WARC_PARSE_SQL,
    "web_front_door_recipe": _FRONT_DOOR_SQL,
    "crawl_to_train_funnel": materialize_repeated_ctes(_crawl_funnel_sql()),
    "curriculum_order_plan": _CURRICULUM_SQL,
    "robots_rule_eval": _ROBOTS_RULE_SQL,
    "crawl_frontier_plan": _FRONTIER_SQL,
    "host_quality_shrinkage": _host_quality_sql(),
    "vocab_growth_curve": _VOCAB_GROWTH_SQL,
    "mixture_shard_conformance": _shard_conformance_sql(),
    "badword_ratio_filter": _BADWORD_SQL,
    "token_budget_mixture": _TOKEN_BUDGET_SQL,
    "mixture_temperature_sweep": _mixture_sweep_sql(),
    "negative_sampling_table": _NEG_TABLE_SQL,
    "importance_weight_selection": _DSIR_SQL,
    "vocab_concentration_simpson": _SIMPSON_SQL,
    "filter_ablation_matrix": _ablation_sql(),
    "dataset_card_rollup": _dataset_card_sql(),
    "split_leakage_audit": _split_leakage_sql(),
    "contamination_longest_match": _LONGEST_MATCH_SQL,
    "ngram_novelty_rate": _NOVELTY_SQL,
    "decontaminate_ngram_overlap": _DECONTAM_SQL,
    "repetition_filter": _REPETITION_SQL,
    "pii_scrub_stats": _PII_SQL,
    "doc_pack_greedy": _PACK_SQL,
    "knn_label_vote": _KNN_SQL,
    "lang_mix_rebalance": _LANG_MIX_SQL,
    "domain_mixture_temperature": _MIXTURE_SQL,
    "pretrain_data_recipe": _recipe_sql(),
    "weighted_sample_priority": _WPRI_SQL,
}
