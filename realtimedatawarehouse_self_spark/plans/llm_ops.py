"""Large-scale training-data pipeline operators (dedup / similarity / text
analysis / multimodal metadata) over the `documents` and `embeddings` tables.

These go beyond the reference's own surface (BASELINE.json north-star): the
operators an LLM-data pipeline needs at 100 TB. Design per operator:

- exact dedup: hash-groupBy — one shuffle on the content hash, even keys.
- MinHash+LSH: shingle -> one 60-bit md5 -> k universal hashes
  ((a*h+b) mod 2^31-1; identical 64-bit arithmetic on both engines, so the
  DuckDB oracle is bit-identical) -> band signatures -> bucket self-join.
  At scale the band join shuffles only (band, sig) pairs, never full
  documents.
- n-gram Jaccard: exact near-dup ground truth via a distinct-shingle
  self-join; the inverted-index join bounds pairs to those sharing >=1
  shingle. Ratio test kept in *integer* arithmetic (2*inter >= union) so the
  oracle comparison is exact.
- SimHash: 16-bit fingerprint from per-token 60-bit hashes (md5-hex ->
  bigint); bit-vote aggregation happens in one groupBy.
- similarity search: brute-force cosine top-k with the small query side
  broadcast (scan-parallel, no fact shuffle); LSH-bucketed variant prunes
  candidates by sign-pattern buckets (axis-aligned hyperplanes).

Everything is built-in-function Catalyst expressions — no Python UDFs — so
the whole module runs inside whole-stage codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from realtimedatawarehouse_self_spark.functions.exprs import (
    cosine,
    ordered_pair_structs,
    tokens,
    word_shingles,
)
from realtimedatawarehouse_self_spark.session import apply_runtime_confs
from realtimedatawarehouse_self_spark.sources.tables import load_table

NUM_HASHES = 12
BAND_ROWS = 3
NUM_BANDS = NUM_HASHES // BAND_ROWS
SIMHASH_BITS = 16
STOPWORDS = ("the", "a", "data", "row", "value")
LANG_ORDER = ("en", "zh", "de", "es", "fr")
LANG_MARKERS = {
    "en": ("the", "a"),
    "zh": ("data", "row"),
    "de": ("join", "merge"),
    "es": ("order", "sort"),
    "fr": ("value", "key"),
}
TOPK = 5
NUM_QUERY_VECS = 10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan, fanned out: every consumer in this module does
    per-token / per-pair work that dwarfs the 2-column scan."""
    apply_runtime_confs(spark)
    return load_table(spark, sf_dir, "documents", fan_out=True)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, lang, shingle) — the shared dedup primitive.

    r10 optimization (guide §2.4 "remove shuffles outright"): the distinct
    runs IN-ROW via array_distinct before the explode. doc_id is the
    document's identity (unique per row — the schema contract every dedup
    operator's keep_doc_id/join semantics already rely on), so duplicate
    (doc_id, lang, sh) tuples can only arise WITHIN one document's shingle
    array; deduping the array replaces a corpus-shingle-volume
    `.distinct()` exchange — the single largest data-sized shuffle of the
    whole dedup family, shared by containment / prefix-filter / Jaccard /
    minhash / clean-pipeline consumers — with zero shuffle. The oracle's
    SELECT DISTINCT is unchanged and gates the equivalence per SF."""
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    return docs.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(word_shingles(F.col("tok_arr")))).alias(
            "sh"
        ),
    )


_SHINGLE_CTE = """
tok AS (
    SELECT doc_id, lang,
           list_filter(string_split(text, ' '), x -> x <> '') AS t
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, lang,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
    FROM tok, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
)
"""


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on content.
# ---------------------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("dup_ct"),
    )


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash,
       min(doc_id) AS keep_doc_id,
       CAST(count(*) AS BIGINT) AS dup_ct
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup: inverted-index self-join on distinct shingles.
# ---------------------------------------------------------------------------
# Document-frequency cap on shingles entering the self-join. A single hot
# shingle with df=10^6 would alone produce 10^12 candidate pairs; capping df
# bounds the worst case at corpus_shingles x DF_CAP pairs (linear in corpus
# size). Standard near-dup practice: shingles that common carry ~no signal
# (they are boilerplate). Recall bound, documented: a pair is emitted only
# if it shares >=1 shingle with df in [2, DF_CAP]. Jaccard denominators stay
# EXACT for surviving pairs — sizes are computed over ALL shingles.
SHINGLE_DF_CAP = 100


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # Shingles occurring in a single document cannot form a pair; shingles
    # above the df cap would dominate the output quadratically. The df
    # filter runs as a window count BEFORE any posting list is built, so no
    # aggregation buffer ever holds a hot shingle's postings; the groupBy
    # that follows reuses the window's (lang, sh) partitioning — one
    # exchange for both steps.
    shared = _df_capped_entries(sh)
    # Candidate pairs come straight out of each (bounded) posting list —
    # explode the <=C(DF_CAP,2) combinations per shingle instead of a
    # df-sized × df-sized self-join: the join's shuffle of both exploded
    # sides disappears entirely. (Not `_posting_pairs`: this operator
    # needs the per-pair MULTIPLICITY — shared-shingle counts — so the
    # explode keeps duplicates and aggregates them, where the exact-verify
    # family distincts them away.)
    postings = shared.groupBy("lang", "sh").agg(
        F.sort_array(F.collect_list("doc_id")).alias("docs")
    )
    pairs = postings.select(
        F.explode(
            F.expr(
                "flatten(transform(docs, (x, i) ->"
                " transform(slice(docs, i + 2, size(docs)),"
                " y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    inter = pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("inter_ct")
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("union_ct", F.col("n_a") + F.col("n_b") - F.col("inter_ct"))
        .filter(2 * F.col("inter_ct") >= F.col("union_ct"))
        .select("doc_a", "doc_b", "inter_ct", "union_ct")
    )


_JACCARD_SQL = f"""
WITH {_SHINGLE_CTE},
sizes AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
),
shared AS (
    SELECT doc_id, lang, sh FROM (
        SELECT *, count(*) OVER (PARTITION BY lang, sh) AS df FROM sh
    ) WHERE df > 1 AND df <= {SHINGLE_DF_CAP}
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS inter_ct
    FROM shared a JOIN shared b
      ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter_ct,
       sa.n_sh + sb.n_sh - inter_ct AS union_ct
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 2 * inter_ct >= sa.n_sh + sb.n_sh - inter_ct
"""


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard self-join (PPJoin family: Chaudhuri et al.
# ICDE'06 SSJoin; Bayardo et al. WWW'07; Xiao et al. WWW'08). LOSSLESS
# counterpart to `dedup_ngram_jaccard`'s df-cap: instead of dropping hot
# shingles (a documented recall cut), each document indexes only its PREFIX
# — its p = n - ceil(t*n) + 1 globally-rarest shingles under a total
# (df asc, shingle asc) order. Theorem (prefix filter): if J(A,B) >= t then
# |A∩B| >= ceil(t*|A|), and were A's prefix disjoint from B's, every common
# element would sit in A's suffix of size ceil(t*|A|) - 1 < |A∩B| — so any
# qualifying pair shares a prefix shingle and NO qualifying pair is missed.
# Exact verification (array_intersect on the full shingle sets) then removes
# false candidates, so the output equals the unfiltered exact join — the
# oracle below is exactly _JACCARD_SQL minus the df cap.
#
# Scale: prefix shingles are by construction the globally RARE half of each
# document, so posting lists entering the pair explode are short (boilerplate
# shingles live in the suffix and never generate candidates); candidate
# volume is the PPJoin bound sum_sh(df_prefix(sh)^2) with df_prefix ≪ df.
# Verification touches candidates only, and both shingle scans derive from
# the one persisted (doc, lang, sh, df) frame — the window that computes df
# and the per-doc ranking reuse a single exchange chain.
# ---------------------------------------------------------------------------
JACCARD_T_NUM, JACCARD_T_DEN = 1, 2  # Jaccard >= 1/2, matching the capped op


def _prefix_filter_true_pairs(sh: DataFrame) -> DataFrame:
    """The lossless exact-similarity-join core of
    `dedup_jaccard_prefix_filter`, over an already-persisted shingle
    frame (shared with `lsh_recall_audit`, whose truth set this is)."""
    ranked = (
        sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("lang", "sh"))
        )
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "sh")
            ),
        )
    )
    # p = n - ceil(n/2) + 1 == n div 2 + 1 for t = 1/2.
    prefix = ranked.filter(F.col("rn") <= F.expr("n_sh div 2 + 1"))
    cand = _posting_pairs(prefix.select("doc_id", "lang", "sh"))
    return (
        _exact_pair_verify(cand, sh)
        .withColumn("union_ct", F.col("n_a") + F.col("n_b") - F.col("inter_ct"))
        .filter(2 * F.col("inter_ct") >= F.col("union_ct"))
        .select("doc_a", "doc_b", "inter_ct", "union_ct")
    )


def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir).persist()
    return _prefix_filter_true_pairs(sh)


# ---------------------------------------------------------------------------
# Containment near-superset detection: |A∩B| / |A| >= 4/5 (or /|B|) — the
# asymmetric cousin of Jaccard that catches what a symmetric threshold
# structurally cannot: a short document swallowed whole by a long one
# (boilerplate wrapping, quotation inclusion, chunk-of-a-doc reposts).
# J(A,B) = |A∩B|/|A∪B| stays ~|A|/|B| → arbitrarily small for a perfect
# subset, so Jaccard dedup never fires; containment is the standard
# corpus-curation answer (Broder 1997's "containment" alongside
# "resemblance").
#
# Candidates: same df-capped posting-list explode as dedup_ngram_jaccard
# (documented recall bound: a pair must share >=1 shingle with df in
# [2, CAP]; a short doc made ENTIRELY of ubiquitous boilerplate shingles
# is invisible — precisely the pairs carrying no curation signal).
# Verification is EXACT on full shingle sets (array_intersect), so both
# containment ratios are true values, not candidate-limited counts; the
# oracle mirrors the cap in candidate generation and the exactness in
# verification, identically to the Jaccard family.
# ---------------------------------------------------------------------------
CONTAIN_NUM, CONTAIN_DEN = 4, 5  # containment >= 4/5


def _posting_pairs(entries: DataFrame) -> DataFrame:
    """Distinct ordered candidate pairs from (lang, sh)-keyed posting
    lists — the one definition of the posting-explode candidate
    generator shared by the exact-verify dedup family."""
    postings = entries.groupBy("lang", "sh").agg(
        F.sort_array(F.collect_list("doc_id")).alias("docs")
    )
    return (
        postings.select(
            F.explode(ordered_pair_structs("docs", "doc_a", "doc_b")).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def _df_capped_entries(sh: DataFrame) -> DataFrame:
    """Shingle entries surviving the df cap (shared candidate bound of
    dedup_ngram_jaccard and dedup_containment)."""
    return sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("lang", "sh"))
    ).filter((F.col("df") > 1) & (F.col("df") <= SHINGLE_DF_CAP)).drop("df")


def _exact_pair_verify(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Attach exact (n_a, n_b, inter_ct) — over ALL shingles, whatever
    bound generated the candidates — via full-set array_intersect. The
    single verify implementation behind the prefix-filter and containment
    operators (so the verify semantics cannot drift between them).

    The full-set aggregation is pruned to docs that appear in a candidate
    BEFORE collect_set runs: at 100 TB candidates are a sliver of the
    corpus, and without the semi-join every document's entire shingle set
    would be collected into an array (the corpus' full token volume in
    aggregation buffers) only for most arrays to be dropped by the join.
    """
    # cand feeds docs_needed AND both verify joins — persist so the
    # candidate pipeline (window + posting explode + distinct) runs once.
    cand = cand.persist()
    docs_needed = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # full feeds BOTH broadcast sides (fa keyed doc_a, fb keyed doc_b) and
    # the two hash relations can never share an exchange (different build
    # keys), so without a persist the semi-join + collect_set chain runs
    # ONCE PER SIDE — the r11 AQE-final-plan audit showed each side
    # rebuilding it inside its own broadcast build. Persisting the
    # candidate-doc array frame (the sliver, by the docstring's 100 TB
    # argument) halves the verify: interleaved A/B cycles measured
    # containment 9.05/5.65 → 2.45/2.56 s and prefix_filter
    # 4.13/3.51 → 2.37/2.23 s at sf0.1.
    full = (
        sh.join(docs_needed, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.collect_set("sh").alias("shs"),
            F.count(F.lit(1)).cast("bigint").alias("n_sh"),
        )
    ).persist()
    fa = full.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("shs_a"),
        F.col("n_sh").alias("n_a"),
    )
    fb = full.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("shs_b"),
        F.col("n_sh").alias("n_b"),
    )
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn(
            "inter_ct",
            F.size(F.array_intersect("shs_a", "shs_b")).cast("bigint"),
        )
    )


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir).persist()
    cand = _posting_pairs(_df_capped_entries(sh))
    return (
        _exact_pair_verify(cand, sh)
        .filter(
            (F.col("inter_ct") * CONTAIN_DEN >= CONTAIN_NUM * F.col("n_a"))
            | (F.col("inter_ct") * CONTAIN_DEN >= CONTAIN_NUM * F.col("n_b"))
        )
        .select(
            "doc_a",
            "doc_b",
            "inter_ct",
            "n_a",
            "n_b",
            F.expr("inter_ct * 1000000 div n_a").alias("cont_a_micro"),
            F.expr("inter_ct * 1000000 div n_b").alias("cont_b_micro"),
        )
    )


_CONTAINMENT_SQL = f"""
WITH {_SHINGLE_CTE},
sizes AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
),
shared AS (
    SELECT doc_id, lang, sh FROM (
        SELECT *, count(*) OVER (PARTITION BY lang, sh) AS df FROM sh
    ) WHERE df > 1 AND df <= {SHINGLE_DF_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM shared a JOIN shared b
      ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
),
inter AS (
    SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter_ct
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh AND b.lang = a.lang
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter_ct,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       i.inter_ct * 1000000 // sa.n_sh AS cont_a_micro,
       i.inter_ct * 1000000 // sb.n_sh AS cont_b_micro
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.inter_ct * {CONTAIN_DEN} >= {CONTAIN_NUM} * sa.n_sh
   OR i.inter_ct * {CONTAIN_DEN} >= {CONTAIN_NUM} * sb.n_sh
"""


_JACCARD_PREFIX_SQL = f"""
WITH {_SHINGLE_CTE},
sizes AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS inter_ct
    FROM sh a JOIN sh b
      ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter_ct,
       sa.n_sh + sb.n_sh - inter_ct AS union_ct
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 2 * inter_ct >= sa.n_sh + sb.n_sh - inter_ct
"""


# ---------------------------------------------------------------------------
# Cross-source duplication matrix — provenance analysis over the near-dup
# pair set: WHICH sources duplicate WHICH (mirror sites, syndication,
# scraper overlap). A curation run reads this before deciding source
# weights: a source whose docs are 80% contained in another is a mirror,
# not new data. Pairs are the prefix-filter family's exact Jaccard >= 1/2
# truth set (lossless, already audited); each pair maps to an unordered
# (source_lo, source_hi) cell.
#
# Scale: the pair set is a sliver of the corpus (PPJoin candidate bound),
# so the two provenance joins put PAIRS on the build side — AQE broadcasts
# them against the 2-column doc scan; the matrix itself is
# |sources|^2-bounded. share_micro normalizes by total pairs (1-row
# broadcast).
# ---------------------------------------------------------------------------
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    sh = _doc_shingles(spark, sf_dir).persist()
    pairs = _prefix_filter_true_pairs(sh).select("doc_a", "doc_b")
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    tagged = pairs.join(a, "doc_a").join(b, "doc_b").select(
        F.least("src_a", "src_b").alias("source_lo"),
        F.greatest("src_a", "src_b").alias("source_hi"),
    )
    m = tagged.groupBy("source_lo", "source_hi").agg(
        F.count(F.lit(1)).cast("bigint").alias("pair_ct")
    )
    tot = m.agg(F.sum("pair_ct").cast("bigint").alias("total_pairs"))
    return m.crossJoin(F.broadcast(tot)).select(
        "source_lo",
        "source_hi",
        "pair_ct",
        F.expr("CAST(pair_ct * 1000000 div total_pairs AS BIGINT)").alias(
            "share_micro"
        ),
    )


_CROSS_SOURCE_SQL = f"""
WITH {_SHINGLE_CTE},
sizes AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS inter_ct
    FROM sh a JOIN sh b
      ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
truth AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE 2 * inter_ct >= sa.n_sh + sb.n_sh - inter_ct
),
tagged AS (
    SELECT least(da.source, db.source) AS source_lo,
           greatest(da.source, db.source) AS source_hi
    FROM truth t
    JOIN documents da ON t.doc_a = da.doc_id
    JOIN documents db ON t.doc_b = db.doc_id
),
m AS (
    SELECT source_lo, source_hi, CAST(count(*) AS BIGINT) AS pair_ct
    FROM tagged GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(pair_ct) AS BIGINT) AS total_pairs FROM m)
SELECT m.source_lo, m.source_hi, m.pair_ct,
       CAST(m.pair_ct * 1000000 // t.total_pairs AS BIGINT) AS share_micro
FROM m, tot t
"""


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs. Hash family: ONE 60-bit md5 per shingle,
# then NUM_HASHES Carter-Wegman universal hashes h_i = (a_i*h0 + b_i) mod P
# (P = 2^31-1, so a_i*h0 < 2^62 never overflows 64-bit signed on either
# engine). One cryptographic hash per row instead of NUM_HASHES — at 100 TB
# the md5 evaluations are the dominant compute of the signature stage, so
# this is an ~NUM_HASHES-fold cut; the per-doc min stays a mutable-buffer
# vectorized HashAggregate over bigints.
# ---------------------------------------------------------------------------
_MINHASH_P = 2_147_483_647
_MINHASH_AB = [
    ((i * 2_654_435_761 + 1) % _MINHASH_P, (i * 40_503 + 7) % _MINHASH_P)
    for i in range(NUM_HASHES)
]


def _shingle_hash() -> Column:
    """60-bit md5 of a shingle, reduced mod the Mersenne prime — the h0
    every minhash permutation is derived from."""
    return (
        F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("bigint")
        % F.lit(_MINHASH_P)
    ).alias("h0")


def _minhash_aggs() -> list[Column]:
    """The 12 permutation-min aggregates over h0 (one per hash family row)."""
    return [
        F.min((F.lit(a) * F.col("h0") + F.lit(b)) % F.lit(_MINHASH_P)).alias(
            f"h{i}"
        )
        for i, (a, b) in enumerate(_MINHASH_AB)
    ]


def _minhash_pairs(sh: DataFrame) -> DataFrame:
    """(doc_id, sh) shingles -> distinct LSH candidate pairs (doc_a < doc_b).

    No persist on the signature frame: `_band_pairs` self-joins the band
    encoding, but the aggregate sits behind an exchange, so Spark's
    exchange reuse (ReusedExchange) already computes it once and feeds
    both join sides — a persist here only adds cache materialization cost
    (measured: dedup_minhash_lsh 0.69 s without vs 0.97 s with, r10
    persist A/B)."""
    minh = (
        sh.select("doc_id", _shingle_hash())
        .groupBy("doc_id")
        .agg(*_minhash_aggs())
    )
    return _band_pairs(minh)


def signature_bands(minh: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """(doc_id, h0..h11[, extras]) -> (doc_id[, extras], band_id, sig).

    THE band/sig encoding for the whole LSH family — both the corpus
    self-join (`_band_pairs`) and the ingest-time screen
    (`state_ops.dedup_incoming_batch`) call this, so the encoding cannot
    silently diverge between them. Bands via explode — ONE upstream
    pipeline feeding all bands, instead of a per-band unionAll that
    re-scans and re-aggregates the corpus per band (16 scans -> 2 at
    NUM_BANDS=4; matters enormously at 100 TB)."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(
                ":", *[f"h{b * BAND_ROWS + r}" for r in range(BAND_ROWS)]
            ).alias("sig"),
        )
        for b in range(NUM_BANDS)
    ]
    return minh.select(
        "doc_id", *extra_cols, F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", *extra_cols, "bs.band_id", "bs.sig")


def _band_pairs(minh: DataFrame) -> DataFrame:
    """Signature frame (doc_id, h0..h11) -> distinct candidate pairs."""
    bands = signature_bands(minh)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(_doc_shingles(spark, sf_dir))


# ---------------------------------------------------------------------------
# MinHash band tuning — the full S-curve audit: sweep every banding of the
# NUM_HASHES=12 signature (12×1, 6×2, 4×3, 3×4, 2×6, 1×12) and measure
# candidates / precision / recall against the exact Jaccard >= 1/2 truth
# in ONE query. lsh_recall_audit checks the SHIPPED config; this is the
# artifact that picks it — the (b, r) knob trades candidate volume
# (cost) against recall, and at 100 TB that choice is made from exactly
# this table on a sample, not from the textbook 1-(1-s^r)^b formula.
#
# Scale: the signature frame is computed ONCE (persisted; one md5 per
# shingle, the family's dominant cost) and every config re-bands the SAME
# 13-column frame — band explode + self-join per config over doc-count
# rows, not corpus rows. Truth is the audited lossless prefix-filter set,
# also computed once.
# ---------------------------------------------------------------------------
BAND_CONFIGS = (1, 2, 3, 4, 6, 12)  # rows per band; bands = 12 // r


def minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir).persist()
    truth = _prefix_filter_true_pairs(sh).select("doc_a", "doc_b").persist()
    minh = (
        sh.select("doc_id", _shingle_hash())
        .groupBy("doc_id")
        .agg(*_minhash_aggs())
        .persist()
    )
    t = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    out = None
    for r in BAND_CONFIGS:
        nb = NUM_HASHES // r
        band_structs = [
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    ":", *[f"h{b * r + i}" for i in range(r)]
                ).alias("sig"),
            )
            for b in range(nb)
        ]
        bands = minh.select(
            "doc_id", F.explode(F.array(*band_structs)).alias("bs")
        ).select("doc_id", "bs.band_id", "bs.sig")
        a, b_ = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                b_,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        c = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        h = truth.join(cand, ["doc_a", "doc_b"], "left_semi").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits")
        )
        row = (
            c.crossJoin(h)
            .crossJoin(F.broadcast(t))
            .select(
                F.lit(r).cast("bigint").alias("band_rows"),
                F.lit(nb).cast("bigint").alias("n_bands"),
                "n_candidates",
                "n_hits",
                "n_true",
                F.expr(
                    "CAST(CASE WHEN n_candidates = 0 THEN 1000000"
                    " ELSE n_hits * 1000000 div n_candidates END AS BIGINT)"
                ).alias("precision_micro"),
                F.expr(
                    "CAST(CASE WHEN n_true = 0 THEN 1000000"
                    " ELSE n_hits * 1000000 div n_true END AS BIGINT)"
                ).alias("recall_micro"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


def _band_tuning_sql() -> str:
    mins = ",\n           ".join(
        f"min(({a} * h0 + {b}) % {_MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH_AB)
    )
    selects = []
    for r in BAND_CONFIGS:
        nb = NUM_HASHES // r
        band_selects = []
        for b in range(nb):
            cols = " || ':' || ".join(
                f"CAST(h{b * r + i} AS VARCHAR)" for i in range(r)
            )
            band_selects.append(
                f"SELECT doc_id, {b} AS band_id, {cols} AS sig FROM minh"
            )
        bands = "\n        UNION ALL\n        ".join(band_selects)
        selects.append(f"""
SELECT CAST({r} AS BIGINT) AS band_rows,
       CAST({nb} AS BIGINT) AS n_bands,
       c.n_candidates, h.n_hits, t.n_true,
       CAST(CASE WHEN c.n_candidates = 0 THEN 1000000
            ELSE h.n_hits * 1000000 // c.n_candidates END AS BIGINT)
           AS precision_micro,
       CAST(CASE WHEN t.n_true = 0 THEN 1000000
            ELSE h.n_hits * 1000000 // t.n_true END AS BIGINT)
           AS recall_micro
FROM (
    SELECT CAST(count(*) AS BIGINT) AS n_candidates
    FROM (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ({bands}) a
        JOIN ({bands}) b
          ON a.band_id = b.band_id AND a.sig = b.sig
         AND a.doc_id < b.doc_id
    )
) c, (
    SELECT CAST(count(*) AS BIGINT) AS n_hits
    FROM truth x
    WHERE EXISTS (
        SELECT 1 FROM (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM ({bands}) a
            JOIN ({bands}) b
              ON a.band_id = b.band_id AND a.sig = b.sig
             AND a.doc_id < b.doc_id
        ) p
        WHERE p.doc_a = x.doc_a AND p.doc_b = x.doc_b
    )
) h, t""")
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH {_SHINGLE_CTE},
h0s AS (
    SELECT doc_id,
           TRY_CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)
               % {_MINHASH_P} AS h0
    FROM sh
),
minh AS (
    SELECT doc_id,
           {mins}
    FROM h0s GROUP BY doc_id
),
sizes AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS inter_ct
    FROM sh a JOIN sh b
      ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
truth AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE 2 * inter_ct >= sa.n_sh + sb.n_sh - inter_ct
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth)
{union}
"""


def _minhash_tail_cte() -> str:
    """CTE chain from a shingle relation ``sh(doc_id, sh)`` to candidate
    ``pairs(doc_a, doc_b)`` — shared by the standalone LSH query and the
    corpus-clean pipeline so both oracles use the identical hash family."""
    mins = ",\n           ".join(
        f"min(({a} * h0 + {b}) % {_MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH_AB)
    )
    band_selects = []
    for b in range(NUM_BANDS):
        cols = " || ':' || ".join(
            f"CAST(h{b * BAND_ROWS + r} AS VARCHAR)" for r in range(BAND_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, {cols} AS sig FROM minh"
        )
    bands = "\n    UNION ALL\n    ".join(band_selects)
    return f"""h0s AS (
    SELECT doc_id,
           TRY_CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)
               % {_MINHASH_P} AS h0
    FROM sh
),
minh AS (
    SELECT doc_id,
           {mins}
    FROM h0s GROUP BY doc_id
),
bands AS (
    {bands}
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
)"""


# ---------------------------------------------------------------------------
# Filtered vector search: top-k over ONLY the corpus vectors whose joined
# document metadata passes a predicate (lang = 'en') — the retrieval shape
# every RAG/metadata-filtered ANN serves. The predicate applies BEFORE any
# scoring: the metadata join prunes candidates first (filter pushes into
# the documents scan), so cosine runs on |match| vectors, not the corpus.
# ---------------------------------------------------------------------------
# One bit-identical cosine formula for every oracle in this module and
# plans/corpus_ops.py — never hand-inline it.
_COSINE_SQL = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})))"
)

FILTER_LANG = "en"


def similarity_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    meta = _docs(spark, sf_dir).filter(F.col("lang") == FILTER_LANG).select(
        F.col("doc_id").alias("vec_id")
    )
    candidates = emb.join(meta, "vec_id")
    q = emb.filter(F.col("vec_id") < NUM_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    scored = (
        candidates.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("score", cosine(F.col("qvec"), F.col("vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rnk").cast("int").alias("rnk"),
            F.col("score"),
        )
    )


_FILTERED_TOPK_SQL = f"""
WITH emb AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
cand AS (
    SELECT e.vec_id, e.vec
    FROM emb e JOIN documents d ON d.doc_id = e.vec_id
    WHERE d.lang = '{FILTER_LANG}'
),
q AS (
    SELECT vec_id AS query_id, vec AS qvec
    FROM emb WHERE vec_id < {NUM_QUERY_VECS}
),
scored AS (
    SELECT q.query_id, c.vec_id,
           {_COSINE_SQL.format(a="q.qvec", b="c.vec")} AS score
    FROM cand c CROSS JOIN q
    WHERE c.vec_id <> q.query_id
)
SELECT query_id, vec_id AS neighbor_id,
       CAST(rnk AS INTEGER) AS rnk, score
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id) AS rnk
    FROM scored
) WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# Production near-dup pattern: LSH candidates (recall path), each candidate
# pair verified with the EXACT Jaccard — exact similarity runs on the LSH
# candidate set (|pairs| ~ linear in corpus), never on all shared shingles.
#
# Physical shape (r4 rework): the corpus is tokenized/exploded ONCE into a
# single per-doc aggregation producing minhash signatures, shingle count,
# AND the sorted shingle array together; that doc-count-sized frame (NOT
# the exploded shingle frame, which is ~2 orders of magnitude larger) is
# persisted and feeds all four consumers — both sides of the band
# self-join and both sides of the pair-verification join. Verification is
# array_intersect on the two shingle arrays (exact distinct-intersection,
# JVM builtin), replacing the pre-r4 double re-explosion + re-join of the
# shingle frame: the corpus pipeline runs 1x instead of ~5x, and the only
# per-pair work is one array intersection. The pair joins are deliberately
# NOT broadcast-hinted: candidates are corpus-linear, so at 100 TB they
# must be shuffle joins on doc_id (AQE still broadcasts automatically when
# the pair list is actually small).
# ---------------------------------------------------------------------------
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    per_doc = (
        sh.select("doc_id", "lang", "sh", _shingle_hash())
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_sh"),
            F.collect_list("sh").alias("sh_arr"),
            *_minhash_aggs(),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = _band_pairs(per_doc)
    a = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("n_sh").alias("n_a"),
        F.col("sh_arr").alias("arr_a"),
    )
    b = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("n_sh").alias("n_b"),
        F.col("sh_arr").alias("arr_b"),
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("lang_a") == F.col("lang_b"))
        .withColumn(
            "inter_ct",
            F.size(F.array_intersect("arr_a", "arr_b")).cast("bigint"),
        )
        .withColumn("union_ct", F.col("n_a") + F.col("n_b") - F.col("inter_ct"))
        .filter(
            (F.col("inter_ct") > 0)
            & (2 * F.col("inter_ct") >= F.col("union_ct"))
        )
        .select("doc_a", "doc_b", "inter_ct", "union_ct")
    )


def _lsh_verified_sql() -> str:
    return f"""
WITH {_SHINGLE_CTE},
{_minhash_tail_cte()},
sizes AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
),
inter AS (
    SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS inter_ct
    FROM pairs p
    JOIN sh a ON a.doc_id = p.doc_a
    JOIN sh b ON b.doc_id = p.doc_b AND b.lang = a.lang AND b.sh = a.sh
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter_ct,
       sa.n_sh + sb.n_sh - i.inter_ct AS union_ct
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE 2 * i.inter_ct >= sa.n_sh + sb.n_sh - i.inter_ct
"""


def _minhash_sql() -> str:
    return f"""
WITH {_SHINGLE_CTE},
{_minhash_tail_cte()}
SELECT doc_a, doc_b FROM pairs
"""


# ---------------------------------------------------------------------------
# SimHash fingerprints: 60-bit token hashes vote per bit; 16-bit fingerprint.
# ---------------------------------------------------------------------------
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    toks = docs.select("doc_id", F.explode("tok_arr").alias("tok"))
    hashed = toks.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    )
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {j}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.cast("bigint").alias("simhash"))


def _simhash_sql() -> str:
    votes = ",\n           ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
    FROM documents
),
hashed AS (
    SELECT doc_id, TRY_CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
    FROM tok
),
votes AS (
    SELECT doc_id,
           {votes}
    FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
"""


# ---------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k (queries broadcast over the
# corpus scan) and the LSH-bucketed scale path (sign-pattern buckets).
# ---------------------------------------------------------------------------
def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    return load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )


def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
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
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rnk").cast("int").alias("rnk"),
            F.col("score"),
        )
    )


_SIM_TOPK_SQL = f"""
WITH emb AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, vec AS qvec FROM emb WHERE vec_id < {NUM_QUERY_VECS}
),
scored AS (
    SELECT q.query_id, e.vec_id,
           list_dot_product(q.qvec, e.vec)
             / (sqrt(list_dot_product(q.qvec, q.qvec))
                * sqrt(list_dot_product(e.vec, e.vec))) AS score
    FROM emb e JOIN q ON e.vec_id <> q.query_id
)
SELECT query_id, vec_id AS neighbor_id,
       CAST(rnk AS INTEGER) AS rnk, score
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id) AS rnk
    FROM scored
) WHERE rnk <= {TOPK}
"""


# ---------------------------------------------------------------------------
# Hard-negative mining — the contrastive-training pair step of an
# embedding-model data pipeline: for each anchor, the HARDEST negatives
# are the most-similar candidates inside a banded cosine window
# (HN_LO, HN_HI): above HN_HI the candidate is a probable positive /
# near-dup (excluded — it would poison the contrastive loss), below
# HN_LO it is an easy negative the model learns nothing from. Emits the
# top HN_K in-band candidates per anchor, hardest first, plus the
# anchor's in-band candidate count (the mining-depth diagnostic that
# tells you whether the band is too tight for this corpus).
#
# Scale: the banded score shares the similarity family's corpus shape —
# one corpus scan, anchors broadcast; at 100 TB the band filter composes
# unchanged with the bucketed/IVF candidate generators (it is a pure
# per-pair predicate applied after scoring), so the brute-force form here
# is the exactness baseline, not the deployment plan. Scores are the
# family's fixed-order cosine (bit-identical across engines), ties
# resolved by vec_id — the mined pair set is a pure function of the
# corpus.
# ---------------------------------------------------------------------------
HN_LO = 0.30
HN_HI = 0.80
HN_K = 5


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < NUM_QUERY_VECS).select(
        F.col("vec_id").alias("anchor_id"), F.col("vec").alias("qvec")
    )
    band = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .withColumn("score", cosine(F.col("qvec"), F.col("vec")))
        .filter((F.col("score") > HN_LO) & (F.col("score") < HN_HI))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    wn = Window.partitionBy("anchor_id")
    return (
        band.withColumn("neg_rank", F.row_number().over(w))
        .withColumn(
            "n_band_candidates", F.count(F.lit(1)).over(wn).cast("bigint")
        )
        .filter(F.col("neg_rank") <= HN_K)
        .select(
            "anchor_id",
            F.col("neg_rank").cast("int").alias("neg_rank"),
            F.col("vec_id").alias("neg_id"),
            "score",
            "n_band_candidates",
        )
    )


_HARD_NEG_SQL = f"""
WITH emb AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
q AS (
    SELECT vec_id AS anchor_id, vec AS qvec FROM emb
    WHERE vec_id < {NUM_QUERY_VECS}
),
band AS (
    SELECT q.anchor_id, e.vec_id,
           list_dot_product(q.qvec, e.vec)
             / (sqrt(list_dot_product(q.qvec, q.qvec))
                * sqrt(list_dot_product(e.vec, e.vec))) AS score
    FROM emb e JOIN q ON e.vec_id <> q.anchor_id
)
SELECT anchor_id, CAST(neg_rank AS INTEGER) AS neg_rank,
       vec_id AS neg_id, score, n_band_candidates
FROM (
    SELECT *,
           row_number() OVER (PARTITION BY anchor_id
                              ORDER BY score DESC, vec_id) AS neg_rank,
           CAST(count(*) OVER (PARTITION BY anchor_id) AS BIGINT)
               AS n_band_candidates
    FROM band
    WHERE score > {HN_LO} AND score < {HN_HI}
) WHERE neg_rank <= {HN_K}
"""


def _bucket_expr_spark(col: str):
    return (
        F.when(F.element_at(F.col(col), 1) > 0, 8).otherwise(0)
        + F.when(F.element_at(F.col(col), 2) > 0, 4).otherwise(0)
        + F.when(F.element_at(F.col(col), 3) > 0, 2).otherwise(0)
        + F.when(F.element_at(F.col(col), 4) > 0, 1).otherwise(0)
    )


def similarity_topk_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: candidates restricted to the query's sign-pattern bucket.

    The bucket id is a 4-bit code from the signs of the first 4 dimensions —
    axis-aligned random-hyperplane LSH. At 100 TB the corpus is scanned once,
    bucketed, and only same-bucket candidates are scored (a 16x candidate
    reduction here; more hyperplanes at larger scale).
    """
    emb = _emb(spark, sf_dir).withColumn("bucket", _bucket_expr_spark("vec"))
    q = emb.filter(F.col("vec_id") < NUM_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        emb.join(F.broadcast(q), emb.bucket == q.qbucket)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("score", cosine(F.col("qvec"), F.col("vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rnk").cast("int").alias("rnk"),
            F.col("score"),
        )
    )


_BUCKET_SQL = (
    "(CASE WHEN vec[1] > 0 THEN 8 ELSE 0 END + CASE WHEN vec[2] > 0 THEN 4 ELSE 0 END"
    " + CASE WHEN vec[3] > 0 THEN 2 ELSE 0 END + CASE WHEN vec[4] > 0 THEN 1 ELSE 0 END)"
)
_SIM_LSH_SQL = f"""
WITH emb AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec,
           {_BUCKET_SQL} AS bucket
    FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, vec AS qvec, bucket AS qbucket
    FROM emb WHERE vec_id < {NUM_QUERY_VECS}
),
scored AS (
    SELECT q.query_id, e.vec_id,
           list_dot_product(q.qvec, e.vec)
             / (sqrt(list_dot_product(q.qvec, q.qvec))
                * sqrt(list_dot_product(e.vec, e.vec))) AS score
    FROM emb e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.query_id
)
SELECT query_id, vec_id AS neighbor_id,
       CAST(rnk AS INTEGER) AS rnk, score
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id) AS rnk
    FROM scored
) WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# Edit-distance near-dup: Levenshtein over 64-char prefixes. Candidate
# blocking (two keys, both required):
#   1. (lang, length band) with ADJACENT-BAND PROBE — near-dups whose
#      lengths straddle a band boundary (99 vs 101 chars) are still
#      compared: the probe side explodes to bands {b-1, b, b+1}, so every
#      pair within one band-width of each other meets exactly once and the
#      join stays a pure equi-join (shuffle on the key, no range join).
#   2. the first EDIT_KEY chars of the text — bounds any one (lang, band)
#      bucket: a popular length band in one language is no longer a single
#      unbounded quadratic bucket; it fragments by prefix. At 100 TB this
#      key would be stored md5-compacted; equality semantics identical.
# Recall bound, documented: pairs differing within their first EDIT_KEY
# chars or by more than EDIT_BAND chars of length are not candidates (the
# LSH operators are the recall path; this is the cheap high-precision one).
# Per-pair cost is O(EDIT_PREFIX^2) regardless of doc length.
# ---------------------------------------------------------------------------
EDIT_PREFIX = 64
EDIT_BAND = 20
EDIT_MAX = 8
EDIT_KEY = 8


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        (F.col("n_chars") / EDIT_BAND).cast("bigint").alias("band"),
        F.substring("text", 1, EDIT_PREFIX).alias("prefix"),
        F.substring("text", 1, EDIT_KEY).alias("pkey"),
    )
    a = docs.alias("a")
    # Probe side: each doc fans out to its own band +/- 1 so the adjacent-
    # band comparison is an equi-join on (lang, pkey, band).
    b = docs.select(
        "doc_id",
        "lang",
        "prefix",
        "pkey",
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("probe_band"),
    ).alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.pkey") == F.col("b.pkey"))
        & (F.col("a.band") == F.col("b.probe_band"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).alias("edit_dist"),
    )
    return pairs.filter(F.col("edit_dist") <= EDIT_MAX)


_EDIT_SQL = f"""
WITH d AS (
    SELECT doc_id, lang,
           CAST(n_chars // {EDIT_BAND} AS BIGINT) AS band,
           substr(text, 1, {EDIT_PREFIX}) AS prefix,
           substr(text, 1, {EDIT_KEY}) AS pkey
    FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS edit_dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.pkey = b.pkey
 AND b.band BETWEEN a.band - 1 AND a.band + 1
 AND a.doc_id < b.doc_id
WHERE levenshtein(a.prefix, b.prefix) <= {EDIT_MAX}
"""


# ---------------------------------------------------------------------------
# Approximate distinct (HLL++). Raw sketch estimates are engine-specific
# (Spark's HLL++ and DuckDB's HLL disagree by design), so the estimate
# itself can't be hash-compared; instead the query emits the EXACT distinct
# beside the sketch and reduces the sketch to the deterministic, portable
# claim `approx_ok` — the estimate landed within 10% of truth (5x the
# configured rsd; measured max deviation across sfs is 1.4%). The oracle
# recomputes the exact column and asserts the claim as a literal, making
# this a full hash-gated row (pre-r4 it was the registry's only rows-only
# check). Spark's HLL++ is order/partitioning-insensitive (register max),
# so approx_ok is deterministic for a given dataset. At 100 TB the sketch
# column replaces exact distinct in rollup/daily dashboards; the exact
# column here is the verification companion.
# ---------------------------------------------------------------------------
def approx_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("dt"))
        .agg(
            # rsd 2%: one precision notch finer than Spark's 5% default; 0.01
            # quadruples the per-group register arrays (16 KiB × groups ×
            # partitions of partial-agg state to merge) for accuracy this
            # trend query doesn't need.
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("event_ct"),
        )
        .select(
            "dt",
            "exact_users",
            "event_ct",
            (
                10 * F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.col("exact_users")
            ).alias("approx_ok"),
        )
    )


_APPROX_DAILY_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS dt,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(count(*) AS BIGINT) AS event_ct,
       TRUE AS approx_ok
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# IVF-style ANN: K coarse centroids (deterministically the first K vectors),
# every vector assigned to its nearest centroid (argmax cosine, tie -> lowest
# centroid id), queries probe ONLY their own cell. At 100 TB: the centroid
# table broadcasts, cell assignment is one scan, and each query scores
# |corpus|/K candidates instead of |corpus|.
#
# K is DERIVED from corpus size, not fixed: K = max(MIN_CENTROIDS,
# n // IVF_TARGET_CELL). With K ∝ n, per-cell population stays
# ~IVF_TARGET_CELL regardless of corpus size, so the all-pairs work inside
# a cell (dedup_embedding_cosine) is n · IVF_TARGET_CELL / 2 — LINEAR in n
# — and a query probe scores ~IVF_TARGET_CELL candidates instead of n/8.
# A fixed K=8 (the pre-r4 design) regrows quadratically at 100× corpus:
# per-cell pairs scale (n/8)². The oracle SQL derives the same K via a
# scalar subquery over the same table, so Spark and DuckDB always agree.
# One cheap count() per query derives K; at cluster scale that is a
# metadata-cheap scan of one skinny column, amortized over the ANN work
# it bounds.
# ---------------------------------------------------------------------------
MIN_CENTROIDS = 8
IVF_TARGET_CELL = 128

# SQL twin of _ivf_k(): interpolated into every IVF oracle so both engines
# derive K from the same formula over the same rows.
IVF_K_SQL = f"(SELECT greatest({MIN_CENTROIDS}, count(*) // {IVF_TARGET_CELL}) FROM emb)"


def _ivf_k(emb: DataFrame) -> int:
    """Corpus-scaled centroid count (see block comment above)."""
    return max(MIN_CENTROIDS, emb.count() // IVF_TARGET_CELL)


def _cells(emb: DataFrame, k: int | None = None) -> DataFrame:
    """Assign every vector to its nearest centroid (argmax cosine, tie ->
    lowest cid). Physical shape matters at 100 TB: score K centroids per
    vector, but reduce to the winning cell with a map-side-combinable
    `max_by` aggregate over SKINNY rows (vec_id, score, cid) — the K-fold
    row blowup never carries the vector payload and never hits a window
    sort; the full vectors rejoin once, keyed on vec_id. Extra columns on
    `emb` (e.g. label) ride through the rejoin untouched."""
    if k is None:
        k = _ivf_k(emb)
    cent = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")
    )
    scored = emb.select("vec_id", "vec").crossJoin(F.broadcast(cent)).select(
        "vec_id",
        cosine(F.col("vec"), F.col("cvec")).alias("cscore"),
        F.col("cid").cast("int").alias("cid"),
    )
    # max over (score, -cid) == argmax score with ties to the lowest cid —
    # the exact semantics of the oracle's row_number(ORDER BY score DESC,
    # cid); (score, -cid) is unique per candidate so max_by is deterministic
    best = scored.groupBy("vec_id").agg(
        F.max_by(
            "cid",
            F.struct(F.col("cscore").alias("s"), (-F.col("cid")).alias("nc")),
        ).alias("cell")
    )
    return emb.join(best, "vec_id")


def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _cells(_emb(spark, sf_dir))
    q = cells.filter(F.col("vec_id") < NUM_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("cell").alias("qcell"),
    )
    scored = (
        cells.join(F.broadcast(q), cells.cell == q.qcell)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("score", cosine(F.col("qvec"), F.col("vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rnk").cast("int").alias("rnk"),
            F.col("score"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-probe IVF: each query probes its PROBES nearest cells instead of
# one — the standard recall lever (a near neighbor that fell just across a
# cell boundary is found by the second probe). Cost model: candidates ≈
# PROBES × corpus/K per query; the probe list itself is tiny (queries ×
# PROBES) and broadcasts with the query vectors.
# ---------------------------------------------------------------------------
PROBES = 2


def similarity_topk_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    k = _ivf_k(emb)
    cells = _cells(emb, k)
    cent = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")
    )
    qvecs = emb.filter(F.col("vec_id") < NUM_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cscore").desc(), F.col("cid")
    )
    probes = (
        qvecs.crossJoin(F.broadcast(cent))
        .withColumn("cscore", cosine(F.col("qvec"), F.col("cvec")))
        .withColumn("crn", F.row_number().over(wq))
        .filter(F.col("crn") <= PROBES)
        .select("query_id", "qvec", F.col("cid").alias("qcell"))
    )
    scored = (
        cells.join(F.broadcast(probes), cells.cell == probes.qcell)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("score", cosine(F.col("qvec"), F.col("vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rnk").cast("int").alias("rnk"),
            F.col("score"),
        )
    )


# Shared CTE chain: embeddings -> IVF cell assignment (nearest of the first
# K vectors, K derived from corpus size exactly as _ivf_k(), tie -> lowest
# cid). Reused by the IVF top-k oracle and the embedding-cosine dedup
# oracle so both mirror _cells() exactly.
IVF_ASSIGN_CTE = f"""emb AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
),
cent AS (
    SELECT vec_id AS cid, vec AS cvec FROM emb WHERE vec_id < {IVF_K_SQL}
),
assigned AS (
    SELECT vec_id, label, vec, cid AS cell
    FROM (
        SELECT e.vec_id, e.label, e.vec, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_COSINE_SQL.format(a="e.vec", b="c.cvec")} DESC,
                            c.cid) AS crn
        FROM emb e CROSS JOIN cent c
    ) WHERE crn = 1
)"""
_MULTIPROBE_SQL = f"""
WITH {IVF_ASSIGN_CTE},
qv AS (
    SELECT vec_id AS query_id, vec AS qvec
    FROM emb WHERE vec_id < {NUM_QUERY_VECS}
),
probes AS (
    SELECT query_id, qvec, cid AS qcell
    FROM (
        SELECT q.query_id, q.qvec, c.cid,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_COSINE_SQL.format(a="q.qvec", b="c.cvec")} DESC,
                            c.cid) AS crn
        FROM qv q CROSS JOIN cent c
    ) WHERE crn <= {PROBES}
),
scored AS (
    SELECT p.query_id, a.vec_id,
           {_COSINE_SQL.format(a="p.qvec", b="a.vec")} AS score
    FROM assigned a JOIN probes p
      ON a.cell = p.qcell AND a.vec_id <> p.query_id
)
SELECT query_id, vec_id AS neighbor_id,
       CAST(rnk AS INTEGER) AS rnk, score
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id) AS rnk
    FROM scored
) WHERE rnk <= 3
"""

_IVF_SQL = f"""
WITH {IVF_ASSIGN_CTE},
q AS (
    SELECT vec_id AS query_id, vec AS qvec, cell AS qcell
    FROM assigned WHERE vec_id < {NUM_QUERY_VECS}
),
scored AS (
    SELECT q.query_id, a.vec_id,
           {_COSINE_SQL.format(a="q.qvec", b="a.vec")} AS score
    FROM assigned a JOIN q ON a.cell = q.qcell AND a.vec_id <> q.query_id
)
SELECT query_id, vec_id AS neighbor_id,
       CAST(rnk AS INTEGER) AS rnk, score
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id) AS rnk
    FROM scored
) WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# Text analysis: quality scoring, language id, fingerprinting, token stats.
# ---------------------------------------------------------------------------
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size("tok_arr").cast("bigint").alias("n_tokens"),
        F.expr("aggregate(transform(tok_arr, x -> length(x)), 0L, (a, v) -> a + v)")
        .alias("sum_token_len"),
        F.expr(
            f"size(filter(tok_arr, x -> array_contains(array({stop_arr}), x)))"
        )
        .cast("bigint")
        .alias("stopword_ct"),
    ).select(
        "doc_id",
        "n_chars",
        "n_tokens",
        (F.col("sum_token_len").cast("double") / F.col("n_tokens")).alias(
            "avg_token_len"
        ),
        (F.col("stopword_ct").cast("double") / F.col("n_tokens")).alias(
            "stopword_ratio"
        ),
        F.when(F.col("n_tokens") < 20, "short")
        .when(F.col("stopword_ct") * 4 > F.col("n_tokens"), "low_quality")
        .otherwise("ok")
        .alias("quality_bucket"),
    )


_STOP_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)
_TEXT_QUALITY_SQL = f"""
WITH t AS (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents
),
m AS (
    SELECT doc_id, n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(toks, x -> strlen(x))) AS BIGINT)
               AS sum_token_len,
           CAST(len(list_filter(toks, x -> list_contains([{_STOP_LIST}], x)))
                AS BIGINT) AS stopword_ct
    FROM t
)
SELECT doc_id, n_chars, n_tokens,
       CAST(sum_token_len AS DOUBLE) / n_tokens AS avg_token_len,
       CAST(stopword_ct AS DOUBLE) / n_tokens AS stopword_ratio,
       CASE WHEN n_tokens < 20 THEN 'short'
            WHEN stopword_ct * 4 > n_tokens THEN 'low_quality'
            ELSE 'ok' END AS quality_bucket
FROM m
"""


def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language id (n-gram heuristic, deterministic)."""
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    score_cols = {}
    for lang in LANG_ORDER:
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        score_cols[lang] = F.expr(
            f"size(filter(tok_arr, x -> array_contains(array({markers}), x)))"
        ).cast("bigint")
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        *[score_cols[lang].alias(f"score_{lang}") for lang in LANG_ORDER],
    )
    pred = None
    for lang in LANG_ORDER:
        others = [f"score_{o}" for o in LANG_ORDER if o != lang]
        cond = None
        for o in others:
            c = F.col(f"score_{lang}") >= F.col(o)
            cond = c if cond is None else cond & c
        term = F.when(cond, F.lit(lang))
        pred = term if pred is None else pred.when(cond, F.lit(lang))
    scored = scored.withColumn("pred_lang", pred)
    return scored.withColumn(
        "is_correct",
        F.when(F.col("pred_lang") == F.col("true_lang"), 1)
        .otherwise(0)
        .cast("bigint"),
    )


def _lang_id_sql() -> str:
    score_exprs = []
    for lang in LANG_ORDER:
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        score_exprs.append(
            f"CAST(len(list_filter(toks, x -> list_contains([{markers}], x)))"
            f" AS BIGINT) AS score_{lang}"
        )
    preds = []
    for lang in LANG_ORDER:
        conds = " AND ".join(
            f"score_{lang} >= score_{o}" for o in LANG_ORDER if o != lang
        )
        preds.append(f"WHEN {conds} THEN '{lang}'")
    return f"""
WITH t AS (
    SELECT doc_id, lang AS true_lang,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents
),
scored AS (
    SELECT doc_id, true_lang,
           {", ".join(score_exprs)}
    FROM t
)
SELECT *,
       CASE {" ".join(preds)} END AS pred_lang,
       CAST(CASE WHEN (CASE {" ".join(preds)} END) = true_lang
            THEN 1 ELSE 0 END AS BIGINT) AS is_correct
FROM scored
"""


# ---------------------------------------------------------------------------
# Classifier calibration audit (ECE) — the reliability check any
# pipeline runs before TRUSTING a classifier's confidence as a routing
# or filtering signal (Guo et al., ICML'17 re-expressed exact-integer):
# bin the lang-ID classifier's confidence (predicted-marker share of all
# marker hits, a rational in ppm), and per bin compare mean confidence
# to realized accuracy; the gap, weighted by bin mass, is the expected
# calibration error. Every quantity is a floored micro rational — no
# floats, so both engines agree bit-for-bit including the zero-marker
# docs (confidence 0, bin 0). Scale shape: one scan with per-row marker
# counting in codegen, one 10-key combine, one 1-row broadcast back for
# the global ECE — dashboard-sized output at any corpus size.
# ---------------------------------------------------------------------------
ECE_BINS = 10
MICRO_PPM = 1_000_000


def classifier_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = lang_id_ngram(spark, sf_dir)
    total = "(" + " + ".join(f"score_{lang}" for lang in LANG_ORDER) + ")"
    pred_score = " ".join(
        f"WHEN pred_lang = '{lang}' THEN score_{lang}" for lang in LANG_ORDER
    )
    conf = scored.select(
        "doc_id",
        "is_correct",
        F.expr(
            f"CASE WHEN {total} = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE CAST(CAST((CASE {pred_score} END) AS DECIMAL(38,0))"
            f" * {MICRO_PPM} div {total} AS BIGINT) END"
        ).alias("conf_ppm"),
    ).select(
        "doc_id",
        "is_correct",
        F.expr(
            f"least(CAST(conf_ppm div {MICRO_PPM // ECE_BINS} AS BIGINT),"
            f" {ECE_BINS - 1})"
        ).alias("bin"),
        "conf_ppm",
    )
    bins = conf.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(sum(conf_ppm) div count(*) AS BIGINT)").alias(
            "avg_conf_micro"
        ),
        F.expr(f"CAST(sum(is_correct) * {MICRO_PPM} div count(*) AS BIGINT)")
        .alias("acc_micro"),
    )
    withgap = bins.withColumn(
        "gap_micro", F.expr("abs(acc_micro - avg_conf_micro)")
    )
    ece = withgap.agg(
        F.expr(
            "CAST(sum(CAST(n_docs AS DECIMAL(38,0)) * gap_micro)"
            " div sum(n_docs) AS BIGINT)"
        ).alias("ece_micro_global")
    )
    return withgap.crossJoin(F.broadcast(ece)).select(
        "bin", "n_docs", "avg_conf_micro", "acc_micro", "gap_micro",
        "ece_micro_global",
    )


def _ece_sql() -> str:
    total = "(" + " + ".join(f"score_{lang}" for lang in LANG_ORDER) + ")"
    pred_score = " ".join(
        f"WHEN pred_lang = '{lang}' THEN score_{lang}" for lang in LANG_ORDER
    )
    return f"""
WITH base AS ({_lang_id_sql()}),
conf AS (
    SELECT doc_id, is_correct,
           CASE WHEN {total} = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(CAST((CASE {pred_score} END) AS HUGEINT)
                     * {MICRO_PPM} // {total} AS BIGINT)
           END AS conf_ppm
    FROM base
),
binned AS (
    SELECT is_correct, conf_ppm,
           least(CAST(conf_ppm // {MICRO_PPM // ECE_BINS} AS BIGINT),
                 {ECE_BINS - 1}) AS bin
    FROM conf
),
bins AS (
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(conf_ppm) // count(*) AS BIGINT) AS avg_conf_micro,
           CAST(sum(is_correct) * {MICRO_PPM} // count(*) AS BIGINT)
               AS acc_micro
    FROM binned GROUP BY 1
),
gapped AS (
    SELECT *, abs(acc_micro - avg_conf_micro) AS gap_micro FROM bins
),
ece AS (
    SELECT CAST(sum(CAST(n_docs AS HUGEINT) * gap_micro) // sum(n_docs)
                AS BIGINT) AS ece_micro_global
    FROM gapped
)
SELECT bin, n_docs, avg_conf_micro, acc_micro, gap_micro,
       e.ece_micro_global
FROM gapped, ece e
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    return docs.select(
        "doc_id",
        F.substring(F.md5(F.lower("text")), 1, 16).alias("fingerprint"),
        F.greatest(F.size("tok_arr") - 2, F.lit(0)).cast("bigint").alias(
            "n_shingles"
        ),
    )


_FINGERPRINT_SQL = """
SELECT doc_id,
       substr(md5(lower(text)), 1, 16) AS fingerprint,
       CAST(greatest(len(list_filter(string_split(text, ' '), x -> x <> '')) - 2,
                     0) AS BIGINT) AS n_shingles
FROM documents
"""


def token_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("doc_ct"),
        F.sum(F.size("tok_arr")).cast("bigint").alias("ws_token_ct"),
        F.sum(F.expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+', 0))"))
        .cast("bigint")
        .alias("re_token_ct"),
    )


_TOKEN_COUNT_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS doc_ct,
       CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
            AS BIGINT) AS ws_token_ct,
       CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT)
           AS re_token_ct
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Vocabulary build: corpus-wide term/document frequencies with a
# deterministic top-k cut (term_ct DESC, token ASC tie-break). The
# tokenize+explode fuses into the scan stage; the groupBy is one shuffle on
# `token` with map-side combine (token keys are near-uniform at corpus
# scale); the final top-k compiles to TakeOrderedAndProject — per-partition
# heaps merged once, never a global sort of the vocabulary.
# ---------------------------------------------------------------------------
VOCAB_TOPK = 100


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")
        ).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("term_ct"),
        F.countDistinct("doc_id").cast("bigint").alias("doc_ct"),
    )
    return counts.orderBy(F.desc("term_ct"), F.asc("token")).limit(VOCAB_TOPK)


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length distribution in fixed 100-char buckets.

    Pure map (bucket id fused into the scan stage) + one partial-first
    aggregate on tiny (lang, bucket) keys — zero wide shuffles, so the
    shape is scan-bound at any corpus size.
    """
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "lang",
            F.expr("CAST(length(text) AS BIGINT) div 100").alias("len_bucket"),
            F.length("text").cast("bigint").alias("n_chars"),
        )
        .groupBy("lang", "len_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_ct"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


_DOC_LEN_HIST_SQL = """
SELECT lang,
       CAST(length(text) // 100 AS BIGINT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS doc_ct,
       CAST(min(length(text)) AS BIGINT) AS min_chars,
       CAST(max(length(text)) AS BIGINT) AS max_chars,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1, 2
"""


_VOCAB_TOPK_SQL = f"""
SELECT token,
       CAST(count(*) AS BIGINT) AS term_ct,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_ct
FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS token
    FROM documents
)
GROUP BY token
ORDER BY term_ct DESC, token
LIMIT {VOCAB_TOPK}
"""


# ---------------------------------------------------------------------------
# Multimodal metadata: the SQL-comparable half of the binary-column path
# (decode/resize stubs live in functions/multimodal.py and are pytest-only).
# ---------------------------------------------------------------------------
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    payload = docs.withColumn("payload", F.encode("text", "UTF-8"))
    return payload.select(
        "doc_id",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.when(F.octet_length("payload") % 3 == 0, "image/png")
        .when(F.octet_length("payload") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("mime_type"),
        (F.octet_length("payload") % 16).cast("bigint").alias("frame_ct"),
    )


_MULTIMODAL_SQL = """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CASE WHEN strlen(text) % 3 = 0 THEN 'image/png'
            WHEN strlen(text) % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS mime_type,
       CAST(strlen(text) % 16 AS BIGINT) AS frame_ct
FROM documents
"""


# ---------------------------------------------------------------------------
# K-means training for the IVF coarse quantizer — Lloyd's algorithm as a
# second iterative Spark operator (alongside dedup_clusters), made fully
# oracle-checkable by doing ALL cluster math in exact integer arithmetic:
# embeddings are quantized to bigint (floor(x*1e4 + 0.5)), centroids kept
# as (integer component sums, count) instead of float means, and the
# assignment metric -2*(x·s)*n + ||s||² over n² is an exact-int numerator/
# denominator whose final double division is bit-identical across engines.
# Deterministic throughout: init = the K lowest vec_ids, argmin tie-breaks
# on centroid id, fixed KM_ITERS rounds (unrolled as CTEs in the oracle).
# Scale: each round = one broadcast of K centroid rows against the point
# set (no point shuffle) + one shuffle on (cid, pos) for the re-sum; the
# per-round centroid frame is persisted (LAZY — r11: the former eager
# `localCheckpoint` ran the whole training during query CONSTRUCTION,
# i.e. outside the bench's timed window, the r10-flagged untimed-work
# hole; a lazy persist keeps the DAG linear per round while every
# training job now runs inside the timed action). Int64 headroom:
# |v|<=~6e3, so sums overflow only past ~1e10 points/cluster — at that
# scale drop KM_SCALE or switch the sums to decimal(38,0).
# ---------------------------------------------------------------------------
K_CLUSTERS = 8
KM_ITERS = 3
KM_SCALE = 10000

_QUANT = (
    f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {KM_SCALE}"
    " + 0.5) AS BIGINT))"
)
_DOT = "aggregate(zip_with(q, s, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
_SS = "aggregate(transform(s, x -> x * x), CAST(0 AS BIGINT), (acc, x) -> acc + x)"


def kmeans_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    pts = (
        load_table(spark, sf_dir, "embeddings", fan_out=True)
        .select("vec_id", F.expr(_QUANT).alias("q"))
        .persist()
    )
    cents = pts.filter(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").alias("cid"),
        F.col("q").alias("s"),
        F.lit(1).cast("bigint").alias("n"),
    )
    for _ in range(KM_ITERS):
        j = pts.crossJoin(F.broadcast(cents))
        metric = F.expr(
            f"CAST(-2 * ({_DOT}) * n + ({_SS}) AS DOUBLE) / CAST(n * n AS DOUBLE)"
        )
        assign = (
            j.groupBy("vec_id")
            .agg(
                F.min(F.struct(metric.alias("m"), F.col("cid"))).alias("mc"),
                F.first("q").alias("q"),
            )
            .select(F.col("mc.cid").alias("cid"), "q")
        )
        sums = (
            assign.select("cid", F.posexplode("q").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.sum("v").alias("s"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "s"))),
                    lambda t: t["s"],
                ).alias("s")
            )
        )
        counts = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
        # lazy persist: sums and counts both read `assign` (shared via its
        # aggregate exchange), and the next round's broadcast reads cents
        # once — persisting keeps the unrolled plan linear in rounds
        # without running any job at build time
        cents = sums.join(counts, "cid").persist()
    return cents.select(
        F.col("cid").alias("cluster_id"),
        F.col("n").alias("n_points"),
        F.md5(
            F.concat_ws(",", F.transform("s", lambda v: v.cast("string")))
        ).alias("centroid_hash"),
    )


def _kmeans_sql() -> str:
    ctes = [
        f"""q AS (
    SELECT vec_id, i - 1 AS pos,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * {KM_SCALE} + 0.5)
                AS BIGINT) AS v
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
)""",
        f"c0 AS (SELECT vec_id AS cid, pos, v AS s FROM q WHERE vec_id < {K_CLUSTERS})",
        f"cn0 AS (SELECT vec_id AS cid, CAST(1 AS BIGINT) AS n FROM embeddings WHERE vec_id < {K_CLUSTERS})",
    ]
    for k in range(KM_ITERS):
        ctes.append(f"""asg{k} AS (
    SELECT vec_id, cid FROM (
        SELECT d.vec_id, d.cid,
               row_number() OVER (
                   PARTITION BY d.vec_id
                   ORDER BY CAST(-2 * d.dot * cn.n + s.ss AS DOUBLE)
                            / CAST(cn.n * cn.n AS DOUBLE), d.cid) AS rn
        FROM (SELECT q.vec_id, c.cid, sum(q.v * c.s) AS dot
              FROM q JOIN c{k} c ON q.pos = c.pos GROUP BY 1, 2) d
        JOIN (SELECT cid, sum(s * s) AS ss FROM c{k} GROUP BY 1) s USING (cid)
        JOIN cn{k} cn USING (cid))
    WHERE rn = 1
)""")
        ctes.append(
            f"c{k + 1} AS (SELECT a.cid, q.pos, CAST(sum(q.v) AS BIGINT) AS s"
            f" FROM asg{k} a JOIN q USING (vec_id) GROUP BY 1, 2)"
        )
        ctes.append(
            f"cn{k + 1} AS (SELECT cid, CAST(count(*) AS BIGINT) AS n"
            f" FROM asg{k} GROUP BY 1)"
        )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT c.cid AS cluster_id,
       cn.n AS n_points,
       md5(string_agg(CAST(c.s AS VARCHAR), ',' ORDER BY c.pos))
           AS centroid_hash
FROM c{KM_ITERS} c JOIN cn{KM_ITERS} cn USING (cid)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Fixed-budget document chunking — split every document into training
# sequences of at most CHUNK_TOKENS tokens. Pure per-row explode (chunk
# count derives from token count), so at 100 TB it is embarrassingly
# parallel: no shuffle at all, and chunk rows stream straight to the sink.
# Each chunk carries an md5 of its exact token slice, so the oracle check
# pins chunk *boundaries and content*, not just counts.
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 64


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    n = F.size("tok_arr")
    chunks = docs.filter(n > 0).select(
        "doc_id",
        "tok_arr",
        n.alias("n"),
        F.explode(
            F.sequence(F.lit(0), F.floor((n - 1) / CHUNK_TOKENS).cast("int"))
        ).alias("chunk_id"),
    )
    sl = F.slice(F.col("tok_arr"), F.col("chunk_id") * CHUNK_TOKENS + 1, CHUNK_TOKENS)
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("chunk_id") * CHUNK_TOKENS)
        .cast("bigint")
        .alias("n_tokens"),
        F.md5(F.concat_ws(" ", sl)).alias("chunk_hash"),
    )


_DOC_CHUNKING_SQL = f"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS t
    FROM documents
)
SELECT doc_id,
       CAST(cid AS BIGINT) AS chunk_id,
       CAST(least({CHUNK_TOKENS}, len(t) - cid * {CHUNK_TOKENS}) AS BIGINT)
           AS n_tokens,
       md5(array_to_string(
           list_slice(t, cid * {CHUNK_TOKENS} + 1, (cid + 1) * {CHUNK_TOKENS}),
           ' ')) AS chunk_hash
FROM tok, UNNEST(range(0, CAST(floor((len(t) - 1) / {CHUNK_TOKENS}) AS BIGINT) + 1))
     AS u(cid)
WHERE len(t) > 0
"""


# ---------------------------------------------------------------------------
# Near-dup cluster assignment — connected components over the minhash-LSH
# candidate-pair graph (pairwise drop rules over-drop; real dedup keeps one
# doc per *component*). Iterative min-label propagation: each round joins
# the label frontier to the edge list and takes the per-node min; converges
# in O(component diameter) rounds — near-dup clusters are shallow, so a
# handful. The per-round `localCheckpoint` truncates lineage so round N's
# plan doesn't replay rounds 1..N-1 (the classic iterative-algorithm trap);
# the edge list is persisted once and reused every round. At 1000-executor
# scale the same loop holds (each round is one shuffle on node id); for
# web-scale graphs with deep components you'd switch to alternating
# small-star/large-star, which this structure accommodates.
# Oracle: DuckDB recursive CTE propagating only-decreasing labels, then
# min per node — exact, because label propagation is order-independent.
# ---------------------------------------------------------------------------
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _propagate_labels(_minhash_pairs(_doc_shingles(spark, sf_dir)))


def _propagate_labels(pairs: DataFrame) -> DataFrame:
    """Candidate pairs -> (doc_id, cluster_id) via min-label propagation.

    The single components implementation behind `dedup_clusters` and
    `dedup_cluster_quality` (so the audit can never measure a different
    clustering than the one shipped)."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    while True:
        prop = edges.join(
            labels, edges.dst == labels.node
        ).select(edges.src.alias("node"), "label")
        new = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        improved = new.join(
            labels.withColumnRenamed("label", "old_label"), "node"
        ).filter(F.col("label") < F.col("old_label"))
        done = improved.isEmpty()
        labels = new
        if done:
            break
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Cluster-quality audit — the transitive-closure safety check: components
# are built from CANDIDATE edges, so one borderline pair can chain two
# tight near-dup groups into a single cluster and survivorship then drops
# real data. Per multi-doc cluster this emits the TRUE-Jaccard profile of
# its edges (min/max) and the edge density vs the complete graph — a
# tight cluster has high min-Jaccard and density ~1e6; a chained cluster
# shows a low min-Jaccard edge and sparse density, telling curation to
# raise the band threshold or verify before closure. Uses THE SAME
# `_propagate_labels` and `_exact_pair_verify` implementations the dedup
# family ships, so the audit measures the actual pipeline, not a replica.
#
# Scale: edges are the LSH candidate sliver; verify is pruned to candidate
# docs (the `_exact_pair_verify` contract); cluster stats are one combine
# over edges + one over memberships.
# ---------------------------------------------------------------------------
def dedup_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir).persist()
    pairs = _minhash_pairs(sh).persist()
    ver = _exact_pair_verify(pairs, sh).select(
        "doc_a",
        "doc_b",
        F.expr(
            "inter_ct * 1000000 div (n_a + n_b - inter_ct)"
        ).alias("j_micro"),
    )
    comp = _propagate_labels(pairs)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).filter(F.col("n_docs") >= 2)
    edge_stats = (
        ver.join(
            comp.select(F.col("doc_id").alias("doc_a"), "cluster_id"),
            "doc_a",
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.min("j_micro").cast("bigint").alias("min_j_micro"),
            F.max("j_micro").cast("bigint").alias("max_j_micro"),
        )
    )
    return sizes.join(edge_stats, "cluster_id").select(
        "cluster_id",
        "n_docs",
        "n_edges",
        "min_j_micro",
        "max_j_micro",
        F.expr(
            "CAST(n_edges * 2000000 div (n_docs * (n_docs - 1)) AS BIGINT)"
        ).alias("density_micro"),
    )


def _cluster_quality_sql() -> str:
    return f"""
WITH RECURSIVE {_SHINGLE_CTE},
{_minhash_tail_cte()},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.dst, r.label
    FROM reach r JOIN edges e ON e.src = r.node
    WHERE r.label < e.dst
),
comp AS (
    SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1
),
szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
inter AS (
    SELECT p.doc_a, p.doc_b, CAST(count(b.sh) AS BIGINT) AS inter_ct
    FROM pairs p
    LEFT JOIN sh a ON a.doc_id = p.doc_a
    LEFT JOIN sh b ON b.doc_id = p.doc_b AND b.sh = a.sh
    GROUP BY 1, 2
),
ver AS (
    SELECT i.doc_a, i.doc_b,
           i.inter_ct * 1000000 // (sa.n_sh + sb.n_sh - i.inter_ct)
               AS j_micro
    FROM inter i
    JOIN szs sa ON sa.doc_id = i.doc_a
    JOIN szs sb ON sb.doc_id = i.doc_b
),
sizes AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
    FROM comp GROUP BY 1 HAVING count(*) >= 2
),
edge_stats AS (
    SELECT c.cluster_id,
           CAST(count(*) AS BIGINT) AS n_edges,
           CAST(min(v.j_micro) AS BIGINT) AS min_j_micro,
           CAST(max(v.j_micro) AS BIGINT) AS max_j_micro
    FROM ver v JOIN comp c ON v.doc_a = c.doc_id
    GROUP BY 1
)
SELECT s.cluster_id, s.n_docs, e.n_edges, e.min_j_micro, e.max_j_micro,
       CAST(e.n_edges * 2000000 // (s.n_docs * (s.n_docs - 1)) AS BIGINT)
           AS density_micro
FROM sizes s JOIN edge_stats e ON s.cluster_id = e.cluster_id
"""


# ---------------------------------------------------------------------------
# Minhash estimator calibration — sketch-vs-exact for the dedup family's
# OWN sketch (the value_quantile_sketch doctrine applied to minhash):
# for every LSH candidate pair, the signature-agreement estimate
# (matching components / NUM_HASHES) next to the TRUE Jaccard from the
# full shingle sets, plus the signed error. This is how a curation run
# validates its banding threshold before trusting it at corpus scale —
# and it makes the estimator's variance measurable, not assumed.
# Everything rides frames that already exist in the LSH pipeline: one
# signature aggregate (doc-sized, 12 ints) joined twice, and the shared
# exact verify pruned to candidates.
# ---------------------------------------------------------------------------
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10 persist A/B (8 variants, 2 interleaved cycles): keeping ONLY
    # `_exact_pair_verify`'s internal cand persist is fastest (2.32 s)
    # vs persisting sh+minh+cand too (2.85 s) or nothing (3.08 s) —
    # minh/cand sit behind exchanges, so ReusedExchange already shares
    # them across the self-join/est/verify consumers; extra persists
    # only pay materialization.
    sh = _doc_shingles(spark, sf_dir)
    minh = (
        sh.select("doc_id", _shingle_hash())
        .groupBy("doc_id")
        .agg(*_minhash_aggs())
    )
    cand = _band_pairs(minh)
    sa = minh.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(NUM_HASHES)],
    )
    sb = minh.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(NUM_HASHES)],
    )
    match_sum = None
    for i in range(NUM_HASHES):
        t = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        match_sum = t if match_sum is None else match_sum + t
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", match_sum.cast("bigint").alias("est_matches"))
    )
    exact = _exact_pair_verify(cand, sh).withColumn(
        "union_ct", F.col("n_a") + F.col("n_b") - F.col("inter_ct")
    )
    return est.join(exact.select("doc_a", "doc_b", "inter_ct", "union_ct"),
                    ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "est_matches",
        F.expr(f"est_matches * 1000000 div {NUM_HASHES}").alias("est_micro"),
        "inter_ct",
        "union_ct",
        F.expr("inter_ct * 1000000 div union_ct").alias("exact_micro"),
        F.expr(
            f"est_matches * 1000000 div {NUM_HASHES}"
            " - inter_ct * 1000000 div union_ct"
        ).alias("err_micro"),
    )


def _minhash_estimate_error_sql() -> str:
    match_terms = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
        for i in range(NUM_HASHES)
    )
    return f"""
WITH {_SHINGLE_CTE},
{_minhash_tail_cte()},
est AS (
    SELECT p.doc_a, p.doc_b,
           CAST({match_terms} AS BIGINT) AS est_matches
    FROM pairs p
    JOIN minh a ON a.doc_id = p.doc_a
    JOIN minh b ON b.doc_id = p.doc_b
),
sizes AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
),
inter AS (
    SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter_ct
    FROM pairs c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
    GROUP BY 1, 2
)
SELECT e.doc_a, e.doc_b, e.est_matches,
       e.est_matches * 1000000 // {NUM_HASHES} AS est_micro,
       i.inter_ct,
       sa.n_sh + sb.n_sh - i.inter_ct AS union_ct,
       i.inter_ct * 1000000 // (sa.n_sh + sb.n_sh - i.inter_ct)
           AS exact_micro,
       e.est_matches * 1000000 // {NUM_HASHES}
           - i.inter_ct * 1000000 // (sa.n_sh + sb.n_sh - i.inter_ct)
           AS err_micro
FROM est e
JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN sizes sa ON sa.doc_id = e.doc_a
JOIN sizes sb ON sb.doc_id = e.doc_b
"""


# ---------------------------------------------------------------------------
# Per-document lexical diversity — Gini impurity over the token
# distribution (1 − Σ(c/n)² in integer micro-units via cross-
# multiplication, the same log-free diversity form as
# `user_event_diversity`): the continuous complement of
# `repetition_filter`'s hard top-token thresholds — templated/looping
# text scores low, varied prose scores high, no floats anywhere.
# Two combines ((doc, term) then doc), both map-side-combined.
# sum_sq * 1e6 stays inside int64 up to ~3e6 tokens per document.
# ---------------------------------------------------------------------------
def doc_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    counts = (
        docs.select("doc_id", F.explode("tok_arr").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.expr(
                "1000000 - (sum_sq * 1000000) div (n_tokens * n_tokens)"
            ).alias("gini_micro"),
        )
    )


_LEX_DIVERSITY_SQL = """
WITH terms AS (
    SELECT doc_id, t.term
    FROM (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ), UNNEST(toks) AS t(term)
),
counts AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
    FROM terms GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       1000000 - (CAST(sum(c * c) AS BIGINT) * 1000000)
           // (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT))
           AS gini_micro
FROM counts
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# LSH recall audit — the companion to `minhash_estimate_error`: where
# that operator calibrates the ESTIMATOR per pair, this one measures the
# CANDIDATE GENERATOR against ground truth. Truth = the lossless
# prefix-filter exact similarity join (J >= 1/2, provably equal to the
# unfiltered exact join); candidates = the minhash band pairs. Recall =
# hit/truth in micro-units — the number a curation run checks before
# trusting LSH banding to not silently drop near-dups at corpus scale.
# Vacuously 1.0 on an empty truth set (both engines agree by the same
# CASE). All three inputs are frames the dedup family already builds.
# ---------------------------------------------------------------------------
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE persisted shingle frame feeds both the truth join and the
    # minhash candidates — without the share, the tokenize+explode
    # pipeline (the single most expensive stage) would run twice.
    sh = _doc_shingles(spark, sf_dir).persist()
    truth = _prefix_filter_true_pairs(sh).select("doc_a", "doc_b")
    cand = _minhash_pairs(sh)
    t = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    c = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    h = truth.join(cand, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    return (
        t.crossJoin(c)
        .crossJoin(h)
        .select(
            "n_true",
            "n_candidates",
            "n_hit",
            F.expr(
                "CASE WHEN n_true = 0 THEN cast(1000000 as bigint) "
                "ELSE n_hit * 1000000 div n_true END"
            ).alias("recall_micro"),
        )
    )


def _lsh_recall_sql() -> str:
    return f"""
WITH {_SHINGLE_CTE},
{_minhash_tail_cte()},
sizes AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS inter_ct
    FROM sh a JOIN sh b
      ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
truth AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE 2 * inter_ct >= sa.n_sh + sb.n_sh - inter_ct
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
c AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM pairs),
h AS (
    SELECT CAST(count(*) AS BIGINT) AS n_hit
    FROM truth x
    WHERE EXISTS (
        SELECT 1 FROM pairs p
        WHERE p.doc_a = x.doc_a AND p.doc_b = x.doc_b
    )
)
SELECT t.n_true, c.n_candidates, h.n_hit,
       CASE WHEN t.n_true = 0 THEN CAST(1000000 AS BIGINT)
            ELSE h.n_hit * 1000000 // t.n_true END AS recall_micro
FROM t, c, h
"""


# ---------------------------------------------------------------------------
# IVF recall audit — lsh_recall_audit's doctrine applied to the ANN family:
# before trusting the IVF index at scale, measure its top-3 against the
# brute-force truth on the SAME query sample, for both the single-probe
# and multi-probe variants. Per-query rows (not one global number) so the
# dashboard shows WHICH queries the cell boundary hurt — the artifact that
# decides whether to raise PROBES or K. Overlap is counted on integer ids
# via left-semi joins; float scores never reach the output, so the audit
# is exactly as deterministic as the three audited queries themselves
# (each oracle-gated on its own).
#
# Scale: the brute-force truth side is the expensive leg BY DESIGN — the
# audit runs on the NUM_QUERY_VECS sample, not the corpus, exactly how a
# production recall check samples queries. Candidates ride the already-
# bounded IVF probe plans.
# ---------------------------------------------------------------------------
AUDIT_TOPK = 3


def ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = similarity_topk_bruteforce(spark, sf_dir).filter(
        F.col("rnk") <= AUDIT_TOPK
    ).select("query_id", "neighbor_id")
    ivf = similarity_topk_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    mp = similarity_topk_ivf_multiprobe(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ivf_hits = (
        truth.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ivf_hits"))
    )
    mp_hits = (
        truth.join(mp, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("mp_hits"))
    )
    base = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth")
    )
    return (
        base.join(ivf_hits, "query_id", "left")
        .join(mp_hits, "query_id", "left")
        .select(
            "query_id",
            "n_truth",
            F.coalesce("ivf_hits", F.lit(0)).cast("bigint").alias("ivf_hits"),
            F.coalesce("mp_hits", F.lit(0)).cast("bigint").alias("mp_hits"),
            F.expr(
                "CAST(coalesce(ivf_hits, 0) * 1000000 div n_truth AS BIGINT)"
            ).alias("ivf_recall_micro"),
            F.expr(
                "CAST(coalesce(mp_hits, 0) * 1000000 div n_truth AS BIGINT)"
            ).alias("mp_recall_micro"),
        )
    )


def _ivf_recall_sql() -> str:
    return f"""
WITH truth AS (
    SELECT query_id, neighbor_id
    FROM ({_SIM_TOPK_SQL}) WHERE rnk <= {AUDIT_TOPK}
),
ivf AS (SELECT query_id, neighbor_id FROM ({_IVF_SQL})),
mp AS (SELECT query_id, neighbor_id FROM ({_MULTIPROBE_SQL})),
base AS (
    SELECT t.query_id,
           CAST(count(*) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN EXISTS (
                    SELECT 1 FROM ivf i
                    WHERE i.query_id = t.query_id
                      AND i.neighbor_id = t.neighbor_id)
               THEN 1 ELSE 0 END) AS BIGINT) AS ivf_hits,
           CAST(sum(CASE WHEN EXISTS (
                    SELECT 1 FROM mp m
                    WHERE m.query_id = t.query_id
                      AND m.neighbor_id = t.neighbor_id)
               THEN 1 ELSE 0 END) AS BIGINT) AS mp_hits
    FROM truth t
    GROUP BY 1
)
SELECT query_id, n_truth, ivf_hits, mp_hits,
       CAST(ivf_hits * 1000000 // n_truth AS BIGINT) AS ivf_recall_micro,
       CAST(mp_hits * 1000000 // n_truth AS BIGINT) AS mp_recall_micro
FROM base
"""


# ---------------------------------------------------------------------------
# Language-ID confusion matrix — the label-noise audit over the corpus'
# own metadata: aggregate lang_id_ngram's per-document predictions into
# (true, predicted) cells with per-true-language shares. The artifact a
# curation run inspects before trusting either the labels or the
# classifier; one tiny combine over the per-doc scoring frame.
# ---------------------------------------------------------------------------
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = lang_id_ngram(spark, sf_dir).select("true_lang", "pred_lang")
    # Persist the tiny (langs x langs) aggregate: it feeds BOTH the join
    # side and the `totals` reduce below — without it the expensive
    # per-document marker-scoring scan inside lang_id_ngram executes twice
    # (same shared-frame idiom as lm_quality_probability / lsh_recall_audit).
    cells = per_doc.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).persist()
    totals = cells.groupBy("true_lang").agg(
        F.sum("n_docs").alias("row_total")
    )
    return cells.join(F.broadcast(totals), "true_lang").select(
        "true_lang",
        "pred_lang",
        "n_docs",
        "row_total",
        F.expr("n_docs * 1000000 div row_total").alias("share_micro"),
    )


def _lang_confusion_sql() -> str:
    return f"""
WITH per_doc AS ({_lang_id_sql()}),
cells AS (
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM per_doc GROUP BY 1, 2
),
totals AS (
    SELECT true_lang, CAST(sum(n_docs) AS BIGINT) AS row_total
    FROM cells GROUP BY 1
)
SELECT c.true_lang, c.pred_lang, c.n_docs, t.row_total,
       c.n_docs * 1000000 // t.row_total AS share_micro
FROM cells c JOIN totals t ON c.true_lang = t.true_lang
"""


# ---------------------------------------------------------------------------
# Token yield after dedup — the pretraining-budget metric the whole dedup
# family exists to move: per language, how many tokens survive when every
# near-dup component keeps only its survivor? A curation run quotes this
# number ("X% effective yield") before committing a mixture; computing it
# IS the composition survivorship → filter → token count, executed as one
# plan so the stage boundary cannot drift from the election logic.
# ---------------------------------------------------------------------------
def dedup_token_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    surv = dedup_survivorship(spark, sf_dir).select("doc_id", "is_survivor")
    joined = docs.join(surv, "doc_id", "left").withColumn(
        "kept", F.coalesce("is_survivor", F.lit(1)).cast("bigint")
    )
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").alias("tokens_total"),
        F.sum("kept").alias("n_docs_kept"),
        F.sum(F.expr("kept * n_tok")).alias("tokens_kept"),
        F.expr("sum(kept * n_tok) * 1000000 div sum(n_tok)").alias(
            "yield_micro"
        ),
    )


def _dedup_token_yield_sql() -> str:
    return f"""
WITH RECURSIVE {_survivorship_cte()},
surv AS (
    SELECT c.doc_id,
           CASE WHEN row_number() OVER (
                    PARTITION BY c.cluster_id
                    ORDER BY d.n_chars DESC, c.doc_id) = 1
                THEN 1 ELSE 0 END AS is_survivor
    FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
),
toks AS (
    SELECT doc_id, lang,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                AS BIGINT) AS n_tok
    FROM documents
),
joined AS (
    SELECT t.lang, t.n_tok,
           CAST(coalesce(s.is_survivor, 1) AS BIGINT) AS kept
    FROM toks t LEFT JOIN surv s ON t.doc_id = s.doc_id
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens_total,
       CAST(sum(kept) AS BIGINT) AS n_docs_kept,
       CAST(sum(kept * n_tok) AS BIGINT) AS tokens_kept,
       CAST(sum(kept * n_tok) AS BIGINT) * 1000000
           // CAST(sum(n_tok) AS BIGINT) AS yield_micro
FROM joined
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Star-contraction connected components — the WEB-SCALE alternative that
# `dedup_clusters`' docstring promises, implemented and oracle-gated to
# the identical answer. Min-label propagation converges in O(component
# diameter) rounds; alternating large-star/small-star contraction
# (Kiveris et al., "Connected Components in MapReduce and Beyond",
# SoCC'14) converges in O(log n) rounds REGARDLESS of diameter — the
# right loop for graphs with long chains. Each round is two grouped
# aggregations over the edge list (min-neighbor per node + re-emit), all
# shuffles keyed on node id; `localCheckpoint` truncates lineage per
# round exactly like the propagation loop.
#
#   large-star: per node u, m = min(N(u) ∪ {u}); re-point every
#               HIGHER neighbor v > u at m.
#   small-star: per node u over edges with v <= u, same m; re-point the
#               lower neighborhood (and u itself) at m.
#
# Fixpoint = every edge already points at its component minimum; labels
# read directly off the final star edges. The oracle is the SAME
# recursive CTE as dedup_clusters — components are algorithm-independent,
# which is precisely what the gate proves.
# ---------------------------------------------------------------------------
def star_components(edges: DataFrame) -> DataFrame:
    """Alternating large-star/small-star contraction over an undirected
    (u, v) edge frame; returns (node, component-minimum) for every node
    with at least one edge. Exposed standalone so the chain-graph tests
    can drive it directly."""
    edges = (
        edges.filter(F.col("u") != F.col("v")).distinct().localCheckpoint()
    )

    def _min_nbr(sym: DataFrame) -> DataFrame:
        return sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    while True:
        # large-star over the symmetric view
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = _min_nbr(sym)
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star over the low-directed view (v <= u), u itself re-pointed
        low = sym.filter(F.col("v") < F.col("u"))
        lmins = low.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        small = (
            low.join(lmins, "u")
            .select(F.col("v").alias("n"), F.col("m"))
            .union(lmins.select(F.col("u").alias("n"), F.col("m")))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
        )
        new_edges = large.union(small).distinct().localCheckpoint()
        changed = new_edges.exceptAll(edges)
        done = changed.isEmpty() and edges.exceptAll(new_edges).isEmpty()
        edges = new_edges
        if done:
            break
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return _min_nbr(sym).select(
        F.col("u").alias("node"), F.col("m").alias("label")
    )


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _minhash_pairs(_doc_shingles(spark, sf_dir))
    comps = star_components(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )
    return comps.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Survivorship election — the ACTIONABLE end of the dedup family: given
# the near-dup clusters, choose ONE canonical document per cluster and
# emit the keep/drop decision for every clustered doc. Real pipelines
# stop at "these docs are near-dups" far too often; the deliverable a
# curation run needs is the drop list.
#
# Survivor rule: longest document wins (n_chars DESC), doc_id breaks
# ties — deterministic, total-order, and the standard keep-the-fullest-
# version heuristic (a swap to any other scoring column is the same
# one-line window change). One window over the cluster assignment frame
# (clusters are tiny — bounded by component size), so the whole op adds
# a single shuffle on cluster_id after the label propagation.
# ---------------------------------------------------------------------------
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = dedup_clusters(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    labeled = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    return labeled.select(
        "doc_id",
        "cluster_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.when(F.row_number().over(w) == 1, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_survivor"),
        F.first("doc_id").over(w).alias("survivor_doc_id"),
    )


def _survivorship_cte() -> str:
    """The WITH-body computing near-dup clusters (shared by the
    survivorship and token-yield oracles)."""
    return f"""{_SHINGLE_CTE},
{_minhash_tail_cte()},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.dst, r.label
    FROM reach r JOIN edges e ON e.src = r.node
    WHERE r.label < e.dst
),
clusters AS (
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM reach GROUP BY 1
)"""


def _dedup_survivorship_sql() -> str:
    return f"""
WITH RECURSIVE {_survivorship_cte()}
SELECT c.doc_id, c.cluster_id,
       CAST(d.n_chars AS BIGINT) AS n_chars,
       CAST(CASE WHEN row_number() OVER (
                PARTITION BY c.cluster_id
                ORDER BY d.n_chars DESC, c.doc_id) = 1
            THEN 1 ELSE 0 END AS BIGINT) AS is_survivor,
       first_value(c.doc_id) OVER (
           PARTITION BY c.cluster_id
           ORDER BY d.n_chars DESC, c.doc_id) AS survivor_doc_id
FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
"""


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE {_SHINGLE_CTE},
{_minhash_tail_cte()},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.dst, r.label
    FROM reach r JOIN edges e ON e.src = r.node
    WHERE r.label < e.dst
)
SELECT node AS doc_id, min(label) AS cluster_id
FROM reach
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Deterministic corpus sampling & splitting — the "data mixing" stage of a
# training run. Membership is a pure function of doc_id (60-bit md5 prefix
# mod 10000, the module's standard cross-engine hash), NEVER rand(): the
# sample is reproducible, resumable, and oracle-checkable, and at 100 TB it
# is a stateless per-row filter fused into the scan — zero shuffle before
# the final per-language aggregate. Split assignment uses a salted hash
# ('split:' prefix) so sample membership and split membership are
# decorrelated, exactly like independent hash salts in a real pipeline.
# ---------------------------------------------------------------------------
SAMPLE_RATES_BP = {"en": 2500, "zh": 7500, "de": 10000, "es": 5000, "fr": 10000}
TRAIN_BP, VAL_BP = 9700, 9900  # train < 9700 <= val < 9900 <= test


def _hash_bp(col: Column, salt: str = "") -> Column:
    """Deterministic 0..9999 bucket from a column (md5-prefix bigint)."""
    s = F.concat(F.lit(salt), col.cast("string")) if salt else col.cast("string")
    return (
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint") % F.lit(10000)
    )


def _sql_hash_bp(expr: str, salt: str = "") -> str:
    inner = f"'{salt}' || CAST({expr} AS VARCHAR)" if salt else f"CAST({expr} AS VARCHAR)"
    return f"(TRY_CAST('0x' || substr(md5({inner}), 1, 15) AS BIGINT) % 10000)"


def stratified_sample_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    rate = F.lit(10000)
    for lang, bp in SAMPLE_RATES_BP.items():
        rate = F.when(F.col("lang") == lang, bp).otherwise(rate)
    return (
        docs.filter(_hash_bp(F.col("doc_id")) < rate)
        .groupBy("lang")
        .agg(
            F.max(rate).alias("rate_bp"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("tok_arr").cast("bigint")).alias("total_tokens"),
        )
    )


def _stratified_sample_sql() -> str:
    case = "CASE " + " ".join(
        f"WHEN lang = '{lang}' THEN {bp}" for lang, bp in SAMPLE_RATES_BP.items()
    ) + " ELSE 10000 END"
    return f"""
SELECT lang,
       CAST(max({case}) AS BIGINT) AS rate_bp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
            AS BIGINT) AS total_tokens
FROM documents
WHERE {_sql_hash_bp('doc_id')} < {case}
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Exact-size held-out slice — the fixed-K companion of the Bernoulli
# samplers: an eval set must have EXACTLY K docs per language (benchmarks
# are fixed-size), not a rate that wobbles with corpus growth. Selection
# is the top-K by salted-hash rank — deterministic sampling WITHOUT
# replacement, reproducible from the table alone, decorrelated from the
# split/sample hashes by its own salt.
#
# Scale: rank <= K over a hash ordering compiles to Spark's
# WindowGroupLimit (per-partition top-K then merge — never a full
# per-language sort); the hash itself is one md5 per row fused into the
# scan.
# ---------------------------------------------------------------------------
EVAL_SLICE_K = 20


def eval_slice_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    rank_key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("evalslice:"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("lang").orderBy(rank_key.asc(), F.col("doc_id"))
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= EVAL_SLICE_K)
        .select(
            "lang",
            F.col("sample_rank").cast("bigint").alias("sample_rank"),
            "doc_id",
            F.size("tok_arr").cast("bigint").alias("n_tokens"),
        )
    )


_EVAL_SLICE_SQL = f"""
WITH ranked AS (
    SELECT lang, doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                AS BIGINT) AS n_tokens,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY TRY_CAST('0x' || substr(
                   md5('evalslice:' || CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) ASC, doc_id) AS sample_rank
    FROM documents
)
SELECT lang, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id, n_tokens
FROM ranked WHERE sample_rank <= {EVAL_SLICE_K}
"""


def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    bp = _hash_bp(F.col("doc_id"), salt="split:")
    split = (
        F.when(bp < TRAIN_BP, "train")
        .when(bp < VAL_BP, "val")
        .otherwise("test")
    )
    return docs.groupBy("lang", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("tok_arr").cast("bigint")).alias("total_tokens"),
    )


def _corpus_split_sql() -> str:
    bp = _sql_hash_bp("doc_id", salt="split:")
    return f"""
SELECT lang,
       CASE WHEN {bp} < {TRAIN_BP} THEN 'train'
            WHEN {bp} < {VAL_BP} THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
            AS BIGINT) AS total_tokens
FROM documents
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Composite corpus-cleaning pipeline — the operators above CHAINED the way a
# training-data run would use them: quality gate -> exact dedup (keep lowest
# doc_id per content hash) -> minhash-LSH near-dup removal (drop the higher
# id of every candidate pair) -> per-language corpus stats. One oracle gates
# the whole composition, so stage boundaries can't hide drift. Scale: each
# stage is the already-audited plan (hash-agg dedup, one-md5 signatures,
# band-bucket join); the final anti-join keys on doc_id only.
# ---------------------------------------------------------------------------
MIN_TOKENS = 20


def quality_gate(docs: DataFrame) -> DataFrame:
    """THE corpus quality rule (length >= MIN_TOKENS, stopword density
    <= 1/4) — shared by `corpus_clean_pipeline` and
    `corpus_ops.pretrain_data_recipe` so a threshold tune cannot diverge
    them. Expects a `tok_arr` column."""
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    stop_ct = F.expr(
        f"size(filter(tok_arr, x -> array_contains(array({stop_arr}), x)))"
    )
    return docs.filter(
        (F.size("tok_arr") >= MIN_TOKENS)
        & (4 * stop_ct <= F.size("tok_arr"))
    )


def exact_dedup_first(q: DataFrame) -> DataFrame:
    """Exact dedup keeping the lowest doc_id per content hash, as a window
    rank (one shuffle on the content hash, no self-join). Shared twin of
    the SQL `keep/kept` CTEs in `quality_sql_ctes`."""
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        q.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def quality_q_ctes(extra_cols: str = "", src: str = "documents") -> str:
    """DuckDB twin of quality_gate alone: CTEs tok/q over `src`.
    `extra_cols` adds projected columns to tok. Split out of
    quality_sql_ctes so compositions that interpose stages between the
    quality gate and exact dedup (crawl_to_train_funnel) reuse the SAME
    gate SQL."""
    cols = f", {extra_cols}" if extra_cols else ""
    return f"""tok AS (
    SELECT doc_id, lang, text{cols},
           list_filter(string_split(text, ' '), x -> x <> '') AS t
    FROM {src}
),
q AS (
    SELECT * FROM tok
    WHERE len(t) >= {MIN_TOKENS}
      AND 4 * len(list_filter(t, x -> list_contains([{_STOP_LIST}], x)))
          <= len(t)
)"""


def exact_dedup_ctes(src: str = "q") -> str:
    """DuckDB twin of exact_dedup_first: CTEs keep/kept over `src`."""
    return f"""keep AS (SELECT min(doc_id) AS doc_id FROM {src} GROUP BY md5(text)),
kept AS (SELECT {src}.* FROM {src} JOIN keep USING (doc_id))"""


_CTE_DEF = re.compile(r"(\bWITH|,)(\s*)(\w+) AS \(")


def materialize_repeated_ctes(sql: str) -> str:
    """Mark each CTE named more than once outside its definition
    ``AS MATERIALIZED``. DuckDB 1.0 inlines a CTE at every reference, so
    along a chain of stages each read twice the work multiplies; a
    materialized CTE is computed once. Names are counted as words: a CTE
    whose name is also a column or alias may be marked with one reference,
    which changes no row (the oracles' CTEs are deterministic)."""
    shared = {
        n
        for n in {m[3] for m in _CTE_DEF.finditer(sql)}
        if len(re.findall(rf"\b{n}\b", sql)) > 2
    }
    return _CTE_DEF.sub(
        lambda m: f"{m[1]}{m[2]}{m[3]} AS MATERIALIZED (" if m[3] in shared else m[0],
        sql,
    )


def quality_sql_ctes(extra_cols: str = "") -> str:
    """DuckDB twin of quality_gate + exact_dedup_first: CTEs tok/q/keep/
    kept over `documents`. `extra_cols` adds projected columns to tok."""
    return f"""{quality_q_ctes(extra_cols)},
{exact_dedup_ctes("q")}"""


def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    q = quality_gate(docs)
    kept = exact_dedup_first(q)
    # `kept` feeds BOTH the minhash candidate branch and the final
    # anti-join: persist it so the scan+tokenize+dedup subtree materializes
    # once (both consumers read InMemoryTableScan). Locally this is noise —
    # the minhash band join dominates — but at 100 TB the double corpus
    # scan is the expensive half; use DISK_ONLY there (the quality-gated,
    # deduped survivor set is a fraction of the corpus).
    kept = kept.persist()
    # in-row distinct (array_distinct) — doc_id is unique in `kept`, so
    # per-doc array dedup replaces the corpus-shingle-volume `.distinct()`
    # exchange (r10, guide §2.4; same change as `_doc_shingles`)
    sh = kept.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("tok_arr")))).alias(
            "sh"
        ),
    )
    dropped = (
        _minhash_pairs(sh).select(F.col("doc_b").alias("doc_id")).distinct()
    )
    final = kept.join(dropped, "doc_id", "left_anti")
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("tok_arr").cast("bigint")).alias("total_tokens"),
        F.sum(F.length("text").cast("bigint")).alias("total_chars"),
    )


def _corpus_clean_sql() -> str:
    return f"""
WITH {quality_sql_ctes()},
sh AS (
    SELECT DISTINCT doc_id,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
    FROM kept, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
),
{_minhash_tail_cte()},
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(t)) AS BIGINT) AS total_tokens,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM kept
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# int8 embedding quantization: per-vector symmetric scale (max|x|/127),
# q_i = floor(x_i/scale + 0.5). The 4x storage cut that makes billion-vector
# ANN indexes fit executor memory; one scan, pure codegen expressions, no
# shuffle. Output pins the quantized payload via sum / L1 / content hash so
# the oracle comparison covers every element without comparing raw arrays.
# floor(x + 0.5) is used instead of round() so both engines apply the
# identical tie rule to identical doubles.
# THE quantization formula lives in exactly two shared places —
# `_with_int8_codes` (Spark) and `_quant_sql_fragment` (DuckDB) — consumed
# by both `embedding_quantize_int8` and `similarity_topk_ivf_adc_rerank`,
# so the two queries cannot drift apart.
# ---------------------------------------------------------------------------
def _with_int8_codes(df: DataFrame) -> DataFrame:
    """Add `scale` and int8 code array `q` for a `vec` column."""
    return (
        df.withColumn(
            "maxabs", F.expr("array_max(transform(vec, x -> abs(x)))")
        )
        .withColumn(
            "scale",
            F.when(F.col("maxabs") == 0.0, F.lit(1.0)).otherwise(
                F.col("maxabs") / F.lit(127.0)
            ),
        )
        .withColumn(
            "q",
            F.expr("transform(vec, x -> CAST(floor(x / scale + 0.5) AS BIGINT))"),
        )
        .drop("maxabs")
    )


def _quant_sql_fragment(src: str, cols: str) -> str:
    """SQL twin of `_with_int8_codes`: select `cols`, vec, scale, q from
    relation `src` (which must expose `cols` and vec)."""
    return f"""
    SELECT {cols}, vec, scale,
           list_transform(vec, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
               AS q
    FROM (
        SELECT {cols}, vec,
               CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END AS scale
        FROM (
            SELECT {cols}, vec,
                   list_max(list_transform(vec, x -> abs(x))) AS m
            FROM {src}
        )
    )"""


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _with_int8_codes(_emb(spark, sf_dir))
    return staged.select(
        "vec_id",
        "scale",
        F.expr("aggregate(q, 0L, (a, x) -> a + x)").alias("q_sum"),
        F.expr("aggregate(q, 0L, (a, x) -> a + abs(x))").alias("q_l1"),
        F.md5(
            F.expr("array_join(transform(q, x -> CAST(x AS STRING)), ',')")
        ).alias("q_md5"),
    )


_QUANT_SQL = f"""
WITH emb AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
quant AS (
{_quant_sql_fragment("emb", "vec_id")}
)
SELECT vec_id, scale,
       CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
       CAST(list_aggregate(list_transform(q, x -> abs(x)), 'sum') AS BIGINT)
           AS q_l1,
       md5(array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ','))
           AS q_md5
FROM quant
"""


# ---------------------------------------------------------------------------
# IVF + quantized-scan + exact rerank: the memory-bandwidth-tiered ANN the
# 100 TB path actually runs (IVF-flat on int8 codes). Candidates inside the
# probed cell are scored with the int8 QUANTIZED dot product first — a pure
# bigint sum (4x less data to stream than the float vectors; on a cluster
# the code table fits where the float table does not) — and only the top
# RERANK_R shortlist per query is re-scored with exact float cosine. The
# ranking key is CAST(idot AS DOUBLE) * corpus_scale: the query-side scale
# is constant per query (monotone, droppable); idot is exact, so one
# correctly-rounded multiply keeps both engines bit-identical. Quantization
# formula is exactly `embedding_quantize_int8`'s (scale = max|x|/127,
# floor(x/scale + 0.5)).
# ---------------------------------------------------------------------------
RERANK_R = 10


def similarity_topk_ivf_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    quant = _with_int8_codes(_cells(emb))
    qside = quant.filter(F.col("vec_id") < NUM_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("cell").alias("qcell"),
        F.col("q").alias("iq"),
    )
    cand = (
        quant.join(F.broadcast(qside), quant.cell == qside.qcell)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "idot",
            F.expr(
                "aggregate(zip_with(iq, q, (a, b) -> a * b), 0L,"
                " (acc, x) -> acc + x)"
            ),
        )
        .withColumn("adc_key", F.expr("CAST(idot AS DOUBLE) * scale"))
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("adc_key").desc(), F.col("vec_id")
    )
    shortlist = cand.withColumn("arn", F.row_number().over(w1)).filter(
        F.col("arn") <= RERANK_R
    )
    rer = shortlist.withColumn("score", cosine(F.col("qvec"), F.col("vec")))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= 3)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rnk").cast("int").alias("rnk"),
            "idot",
            "score",
        )
    )


_ADC_SQL = f"""
WITH {IVF_ASSIGN_CTE},
quant AS (
{_quant_sql_fragment("assigned", "vec_id, cell")}
),
qside AS (
    SELECT vec_id AS query_id, vec AS qvec, cell AS qcell, q AS iq
    FROM quant WHERE vec_id < {NUM_QUERY_VECS}
),
cand AS (
    SELECT s.query_id, s.qvec, c.vec_id, c.vec,
           CAST(list_dot_product(s.iq, c.q) AS BIGINT) AS idot,
           CAST(CAST(list_dot_product(s.iq, c.q) AS BIGINT) AS DOUBLE)
               * c.scale AS adc_key
    FROM quant c JOIN qside s
      ON c.cell = s.qcell AND c.vec_id <> s.query_id
),
shortlist AS (
    SELECT query_id, qvec, vec_id, vec, idot
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_key DESC, vec_id) AS arn
        FROM cand
    ) WHERE arn <= {RERANK_R}
)
SELECT query_id, vec_id AS neighbor_id,
       CAST(rnk AS INTEGER) AS rnk, idot, score
FROM (
    SELECT query_id, vec_id, idot,
           {_COSINE_SQL.format(a="qvec", b="vec")} AS score,
           row_number() OVER (PARTITION BY query_id
               ORDER BY {_COSINE_SQL.format(a="qvec", b="vec")} DESC,
                        vec_id) AS rnk
    FROM shortlist
) WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# Product quantization ANN (`similarity_topk_pq_adc`) — the deepest memory
# tier in the vector-search family: int8 codes (`..._ivf_adc_rerank`) store
# d bytes/vector; PQ stores M bytes/vector (8 here — a further 8×). Each
# vector splits into M subspaces; per subspace a K=16-centroid codebook is
# trained (one Lloyd step from deterministic seeds — same exact-integer
# recipe as `kmeans_ivf_train`: integer metric ss(c) - 2·dot, centroid
# update `sum div n`, truncation identical in Spark `div` and DuckDB `//`),
# and the vector is stored as its M nearest-centroid ids. Search is
# asymmetric distance (ADC): per query a (M × K) lookup table of exact
# integer distance contributions broadcasts, the code table joins it, and
# the approximate distance is a SUM of M table entries — the scan touches
# only the 8-byte codes, never the vectors. Exact float cosine reranks the
# R-shortlist (family convention). Everything through the shortlist is
# exact bigint arithmetic → bit-identical across engines.
# ---------------------------------------------------------------------------
PQ_M = 8
PQ_SUB = 8  # 64 dims / PQ_M
PQ_K = 16

# Same quantization as kmeans (_QUANT) but over the pre-cast `vec` column.
_QUANT_VEC = (
    f"transform(vec, x -> CAST(floor(x * {KM_SCALE} + 0.5) AS BIGINT))"
)
# PQ shortlist is wider than the int8 path's RERANK_R: an 8-byte code is a
# much coarser distance proxy than a full int8 vector, so recall is bought
# with candidates, not bytes. Measured at sf0.01 against the exact top-3:
# R=10 -> 0.37, R=25 -> 0.60, R=50 -> 0.70, R=100 -> 0.80; R=50 is the
# chosen point (10% of THIS tiny corpus, a constant ~50 rows per query at
# any real corpus size).
PQ_R = 50


def similarity_topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    pts = emb.select("vec_id", "vec", F.expr(_QUANT_VEC).alias("q"))
    sub = pts.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), "
                f"m -> struct(m AS m, slice(q, m * {PQ_SUB} + 1, {PQ_SUB}) AS sv))"
            )
        ).alias("e"),
    ).select("vec_id", "e.m", "e.sv")
    # r10 optimization (guide §1.2 per-task work): ss(cent) depends only on
    # the centroid, so it is precomputed ONCE per codebook row (PQ_K x M
    # rows) instead of inside the per-(subvector x centroid) metric — the
    # HOF square-sum used to re-run for every candidate pair in both assign
    # passes and the LUT. Same integers, same argmins, same output.
    _ss = "aggregate(transform(cent, x -> x * x), 0L, (acc, x) -> acc + x)"
    c0 = sub.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("cent")
    ).withColumn("ss", F.expr(_ss))

    def _metric(vec_col: str) -> str:
        """Exact integer ADC metric ss(cent) - 2·dot(vec, cent), as a
        function of the probing vector's column name (no string surgery
        on a shared expression — a stray substring match would silently
        score with the wrong column). ss is the codebook's precomputed
        square-sum column."""
        return (
            "ss"
            f" - 2 * aggregate(zip_with({vec_col}, cent, (a, b) -> a * b),"
            " 0L, (acc, x) -> acc + x)"
        )

    def _assign(codebook: DataFrame) -> DataFrame:
        return (
            sub.join(F.broadcast(codebook), "m")
            .withColumn("metric", F.expr(_metric("sv")))
            .groupBy("vec_id", "m")
            .agg(
                F.min(F.struct("metric", "cid")).alias("mc"),
                F.first("sv").alias("sv"),
            )
            .select("vec_id", "m", F.col("mc.cid").alias("cid"), "sv")
        )

    a0 = _assign(c0)
    sums = (
        a0.select("m", "cid", F.posexplode("sv").alias("pos", "v"))
        .groupBy("m", "cid", "pos")
        .agg(F.sum("v").alias("s"))
        .groupBy("m", "cid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "s"))),
                lambda t: t["s"],
            ).alias("s_arr")
        )
    )
    counts = a0.groupBy("m", "cid").agg(F.count(F.lit(1)).alias("n"))
    c1 = sums.join(counts, ["m", "cid"]).select(
        "m", "cid", F.expr("transform(s_arr, s -> s div n)").alias("cent")
    ).withColumn("ss", F.expr(_ss))
    codes = _assign(c1).select("vec_id", "m", F.col("cid").alias("code"))

    qsub = sub.filter(F.col("vec_id") < NUM_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qsv")
    )
    lut = (
        qsub.join(F.broadcast(c1), "m")
        .withColumn("contrib", F.expr(_metric("qsv")))
        .select("query_id", "m", "cid", "contrib")
    )
    approx = (
        codes.join(
            F.broadcast(lut),
            (codes.m == lut.m) & (codes.code == lut.cid),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("contrib").alias("adist"))
    )
    w1 = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    shortlist = approx.withColumn("arn", F.row_number().over(w1)).filter(
        F.col("arn") <= PQ_R
    )
    qvecs = pts.filter(F.col("vec_id") < NUM_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    rer = (
        shortlist.join(F.broadcast(qvecs), "query_id")
        .join(pts.select("vec_id", "vec"), "vec_id")
        .withColumn("score", cosine(F.col("qvec"), F.col("vec")))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= 3)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rnk").cast("int").alias("rnk"),
            "adist",
            "score",
        )
    )


def _pq_sql() -> str:
    # element grain: (vec_id, m, pos, v); codebooks at (m, cid, pos, s)
    return f"""
WITH vecs AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
q AS (
    SELECT vec_id, (i - 1) // {PQ_SUB} AS m, i - 1 AS pos,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * {KM_SCALE} + 0.5)
                AS BIGINT) AS v
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
),
c0 AS (
    SELECT m, vec_id AS cid, pos, v AS s FROM q WHERE vec_id < {PQ_K}
),
asg0 AS (
    SELECT vec_id, m, cid FROM (
        SELECT d.vec_id, d.m, d.cid,
               row_number() OVER (PARTITION BY d.vec_id, d.m
                   ORDER BY s.ss - 2 * d.dot, d.cid) AS rn
        FROM (SELECT q.vec_id, q.m, c.cid, CAST(sum(q.v * c.s) AS BIGINT) AS dot
              FROM q JOIN c0 c ON q.m = c.m AND q.pos = c.pos
              GROUP BY 1, 2, 3) d
        JOIN (SELECT m, cid, CAST(sum(s * s) AS BIGINT) AS ss
              FROM c0 GROUP BY 1, 2) s ON d.m = s.m AND d.cid = s.cid
    ) WHERE rn = 1
),
c1 AS (
    SELECT a.m, a.cid, q.pos,
           CAST(sum(q.v) AS BIGINT) // CAST(count(DISTINCT a.vec_id) AS BIGINT)
               AS s
    FROM asg0 a
    JOIN q ON q.vec_id = a.vec_id AND q.m = a.m
    GROUP BY 1, 2, 3
),
codes AS (
    SELECT vec_id, m, cid AS code FROM (
        SELECT d.vec_id, d.m, d.cid,
               row_number() OVER (PARTITION BY d.vec_id, d.m
                   ORDER BY s.ss - 2 * d.dot, d.cid) AS rn
        FROM (SELECT q.vec_id, q.m, c.cid, CAST(sum(q.v * c.s) AS BIGINT) AS dot
              FROM q JOIN c1 c ON q.m = c.m AND q.pos = c.pos
              GROUP BY 1, 2, 3) d
        JOIN (SELECT m, cid, CAST(sum(s * s) AS BIGINT) AS ss
              FROM c1 GROUP BY 1, 2) s ON d.m = s.m AND d.cid = s.cid
    ) WHERE rn = 1
),
lut AS (
    SELECT d.query_id, d.m, d.cid, s.ss - 2 * d.dot AS contrib
    FROM (SELECT q.vec_id AS query_id, q.m, c.cid,
                 CAST(sum(q.v * c.s) AS BIGINT) AS dot
          FROM q JOIN c1 c ON q.m = c.m AND q.pos = c.pos
          WHERE q.vec_id < {NUM_QUERY_VECS}
          GROUP BY 1, 2, 3) d
    JOIN (SELECT m, cid, CAST(sum(s * s) AS BIGINT) AS ss
          FROM c1 GROUP BY 1, 2) s ON d.m = s.m AND d.cid = s.cid
),
approx AS (
    SELECT l.query_id, c.vec_id, CAST(sum(l.contrib) AS BIGINT) AS adist
    FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.cid
    WHERE c.vec_id <> l.query_id
    GROUP BY 1, 2
),
shortlist AS (
    SELECT query_id, vec_id, adist FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY adist, vec_id) AS arn
        FROM approx
    ) WHERE arn <= {PQ_R}
)
SELECT query_id, vec_id AS neighbor_id,
       CAST(rnk AS INTEGER) AS rnk, adist, score
FROM (
    SELECT s.query_id, s.vec_id, s.adist,
           {_COSINE_SQL.format(a="qv.vec", b="cv.vec")} AS score,
           row_number() OVER (PARTITION BY s.query_id
               ORDER BY {_COSINE_SQL.format(a="qv.vec", b="cv.vec")} DESC,
                        s.vec_id) AS rnk
    FROM shortlist s
    JOIN vecs qv ON qv.vec_id = s.query_id
    JOIN vecs cv ON cv.vec_id = s.vec_id
) WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# Wave 44a: code-switching profile — the mixed-language document detector
# (CCNet/mC4-class pipelines route mixed-language pages to split-or-drop
# because a doc-level lang id mislabels them): slice each document into
# CS_WINDOW-token windows, lang-id every window with the SAME marker
# scoring + >=-chain argmax rule as `lang_id_ngram`, then profile the
# per-window predictions — distinct predicted langs, the dominant
# prediction and its share, and the number of adjacent-window SWITCH
# points. The dominant pick is a single-BIGINT arg-max
# (count * 8 + (7 - lang_index)) so ties break by LANG_ORDER identically
# on both engines — the robots_rule_eval encoding trick.
# Scale: one posexplode + a (doc, window) conditional-count combine, a
# per-doc-bounded lag window for switch points, then TWO CHAINED
# aggregations ((doc, pred) -> doc) — the dominant pick, the distinct-
# pred count, the switch total, and the window total all come out of the
# same chain, so no doc-keyed join of two corpus-sized frames exists
# anywhere (plan-locked).
# ---------------------------------------------------------------------------
CS_WINDOW = 16


def _cs_pred_case(score_fmt: str) -> str:
    """The >=-chain argmax CASE (lang_id_ngram's rule) over per-window
    scores; score_fmt like 's_{lang}' names the score columns."""
    arms = []
    for lang in LANG_ORDER:
        conds = " AND ".join(
            f"{score_fmt.format(lang=lang)} >= {score_fmt.format(lang=o)}"
            for o in LANG_ORDER
            if o != lang
        )
        arms.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(arms) + " END"


def code_switch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _docs(spark, sf_dir)
        .withColumn("tok_arr", tokens("text"))
        .filter(F.size("tok_arr") >= 1)
    )
    win_toks = docs.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.posexplode("tok_arr").alias("pos", "tok"),
    ).withColumn("win", F.expr(f"CAST(pos div {CS_WINDOW} AS INT)"))
    score_aggs = []
    for lang in LANG_ORDER:
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        score_aggs.append(
            F.sum(
                F.when(
                    F.expr(f"array_contains(array({markers}), tok)"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"s_{lang}")
        )
    wins = win_toks.groupBy("doc_id", "true_lang", "win").agg(*score_aggs)
    preds = wins.withColumn(
        "pred", F.expr(_cs_pred_case("s_{lang}"))
    ).select("doc_id", "true_lang", "win", "pred")
    lag_w = Window.partitionBy("doc_id").orderBy("win")
    switched = preds.withColumn(
        "switch",
        F.when(
            F.lag("pred").over(lag_w).isNotNull()
            & (F.lag("pred").over(lag_w) != F.col("pred")),
            1,
        )
        .otherwise(0)
        .cast("bigint"),
    )
    idx_case = " ".join(
        f"WHEN pred = '{lang}' THEN {i}"
        for i, lang in enumerate(LANG_ORDER)
    )
    by_pred = switched.groupBy("doc_id", "true_lang", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("switch").cast("bigint").alias("sw"),
    )
    per_doc = (
        by_pred.withColumn(
            "pick", F.expr(f"cnt * 8 + (7 - (CASE {idx_case} END))")
        )
        .groupBy("doc_id", "true_lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_windows"),
            F.count(F.lit(1)).cast("bigint").alias("n_pred_langs"),
            F.sum("sw").cast("bigint").alias("n_switches"),
            F.max("pick").alias("best"),
        )
        .withColumn("dom_idx", F.expr("7 - (best % 8)"))
        .withColumn("dominant_cnt", F.expr("best div 8"))
    )
    lang_case = " ".join(
        f"WHEN dom_idx = {i} THEN '{lang}'"
        for i, lang in enumerate(LANG_ORDER)
    )
    return per_doc.select(
        "doc_id",
        "true_lang",
        "n_windows",
        "n_pred_langs",
        "n_switches",
        F.expr(f"CASE {lang_case} END").alias("dominant_pred"),
        F.expr("dominant_cnt * 1000000 div n_windows").alias(
            "dominant_share_micro"
        ),
        (F.col("n_pred_langs") >= 2).alias("is_mixed"),
    )


def _code_switch_sql() -> str:
    score_cols = ", ".join(
        "CAST(len(list_filter(toks, x -> list_contains([{m}], x)))"
        " AS BIGINT) AS s_{lang}".format(
            m=", ".join(f"'{x}'" for x in LANG_MARKERS[lang]), lang=lang
        )
        for lang in LANG_ORDER
    )
    idx_case = " ".join(
        f"WHEN pred = '{lang}' THEN {i}"
        for i, lang in enumerate(LANG_ORDER)
    )
    lang_case = " ".join(
        f"WHEN dom_idx = {i} THEN '{lang}'"
        for i, lang in enumerate(LANG_ORDER)
    )
    return f"""
WITH tok AS (
    SELECT doc_id, lang AS true_lang,
           list_filter(string_split(text, ' '), x -> x <> '') AS t
    FROM documents WHERE text IS NOT NULL
),
w AS (
    SELECT doc_id, true_lang,
           CAST((i - 1) // {CS_WINDOW} AS INTEGER) AS win,
           list_slice(t,
               ((i - 1) // {CS_WINDOW}) * {CS_WINDOW} + 1,
               least(((i - 1) // {CS_WINDOW}) * {CS_WINDOW} + {CS_WINDOW},
                     len(t))) AS toks
    FROM tok, UNNEST(range(1, len(t) + 1, {CS_WINDOW})) AS u(i)
    WHERE len(t) >= 1
),
scored AS (
    SELECT doc_id, true_lang, win, {score_cols} FROM w
),
preds AS (
    SELECT doc_id, true_lang, win,
           {_cs_pred_case("s_{lang}")} AS pred
    FROM scored
),
switched AS (
    SELECT doc_id, true_lang, win, pred,
           CASE WHEN lag(pred) OVER (PARTITION BY doc_id ORDER BY win)
                     IS NOT NULL
                 AND lag(pred) OVER (PARTITION BY doc_id ORDER BY win)
                     <> pred
                THEN 1 ELSE 0 END AS switch
    FROM preds
),
by_pred AS (
    SELECT doc_id, true_lang, pred,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(switch) AS BIGINT) AS sw
    FROM switched GROUP BY 1, 2, 3
),
per_doc AS (
    SELECT doc_id, true_lang,
           CAST(sum(cnt) AS BIGINT) AS n_windows,
           CAST(count(*) AS BIGINT) AS n_pred_langs,
           CAST(sum(sw) AS BIGINT) AS n_switches,
           max(cnt * 8 + (7 - (CASE {idx_case} END))) AS best
    FROM by_pred GROUP BY 1, 2
)
SELECT doc_id, true_lang, n_windows, n_pred_langs, n_switches,
       CASE {lang_case.replace("WHEN dom_idx =", "WHEN (7 - (best % 8)) =")}
       END AS dominant_pred,
       CAST((best // 8) * 1000000 // n_windows AS BIGINT)
           AS dominant_share_micro,
       n_pred_langs >= 2 AS is_mixed
FROM per_doc
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_jaccard_prefix_filter": dedup_jaccard_prefix_filter,
    "cross_source_dup_matrix": cross_source_dup_matrix,
    "minhash_band_tuning": minhash_band_tuning,
    "dedup_containment": dedup_containment,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "similarity_topk_bruteforce": similarity_topk_bruteforce,
    "hard_negative_mining": hard_negative_mining,
    "similarity_topk_lsh_bucketed": similarity_topk_lsh_bucketed,
    "similarity_topk_ivf": similarity_topk_ivf,
    "dedup_edit_distance": dedup_edit_distance,
    "approx_daily_users": approx_daily_users,
    "text_quality_score": text_quality_score,
    "lang_id_ngram": lang_id_ngram,
    "code_switch_profile": code_switch_profile,
    "classifier_calibration_ece": classifier_calibration_ece,
    "doc_fingerprint": doc_fingerprint,
    "token_count_stats": token_count_stats,
    "vocab_topk": vocab_topk,
    "doc_length_histogram": doc_length_histogram,
    "multimodal_metadata": multimodal_metadata,
    "corpus_clean_pipeline": corpus_clean_pipeline,
    "stratified_sample_corpus": stratified_sample_corpus,
    "corpus_split_assign": corpus_split_assign,
    "eval_slice_sample_exact": eval_slice_sample_exact,
    "dedup_clusters": dedup_clusters,
    "dedup_cluster_quality": dedup_cluster_quality,
    "dedup_survivorship": dedup_survivorship,
    "dedup_clusters_star": dedup_clusters_star,
    "dedup_token_yield": dedup_token_yield,
    "minhash_estimate_error": minhash_estimate_error,
    "lang_confusion_matrix": lang_confusion_matrix,
    "lsh_recall_audit": lsh_recall_audit,
    "ivf_recall_audit": ivf_recall_audit,
    "doc_lexical_diversity": doc_lexical_diversity,
    "doc_chunking": doc_chunking,
    "kmeans_ivf_train": kmeans_ivf_train,
    "embedding_quantize_int8": embedding_quantize_int8,
    "similarity_topk_ivf_multiprobe": similarity_topk_ivf_multiprobe,
    "similarity_topk_ivf_adc_rerank": similarity_topk_ivf_adc_rerank,
    "similarity_topk_pq_adc": similarity_topk_pq_adc,
    "dedup_lsh_verified": dedup_lsh_verified,
    "similarity_topk_filtered": similarity_topk_filtered,
}

ORACLE = {
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": _JACCARD_SQL,
    "dedup_jaccard_prefix_filter": _JACCARD_PREFIX_SQL,
    "cross_source_dup_matrix": _CROSS_SOURCE_SQL,
    "minhash_band_tuning": materialize_repeated_ctes(_band_tuning_sql()),
    "dedup_containment": _CONTAINMENT_SQL,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_simhash": _simhash_sql(),
    "similarity_topk_bruteforce": _SIM_TOPK_SQL,
    "hard_negative_mining": _HARD_NEG_SQL,
    "similarity_topk_lsh_bucketed": _SIM_LSH_SQL,
    "similarity_topk_ivf": _IVF_SQL,
    "dedup_edit_distance": _EDIT_SQL,
    # approx_daily_users: the sketch estimate is reduced to the portable
    # approx_ok claim + exact companion columns (see its docstring), so it
    # hash-compares like every other query.
    "approx_daily_users": _APPROX_DAILY_SQL,
    "text_quality_score": _TEXT_QUALITY_SQL,
    "lang_id_ngram": _lang_id_sql(),
    "code_switch_profile": _code_switch_sql(),
    "classifier_calibration_ece": _ece_sql(),
    "doc_fingerprint": _FINGERPRINT_SQL,
    "token_count_stats": _TOKEN_COUNT_SQL,
    "vocab_topk": _VOCAB_TOPK_SQL,
    "doc_length_histogram": _DOC_LEN_HIST_SQL,
    "multimodal_metadata": _MULTIMODAL_SQL,
    "corpus_clean_pipeline": _corpus_clean_sql(),
    "stratified_sample_corpus": _stratified_sample_sql(),
    "corpus_split_assign": _corpus_split_sql(),
    "eval_slice_sample_exact": _EVAL_SLICE_SQL,
    "dedup_clusters": _dedup_clusters_sql(),
    "dedup_cluster_quality": _cluster_quality_sql(),
    "dedup_survivorship": _dedup_survivorship_sql(),
    "dedup_clusters_star": _dedup_clusters_sql(),
    "dedup_token_yield": _dedup_token_yield_sql(),
    "minhash_estimate_error": _minhash_estimate_error_sql(),
    "lang_confusion_matrix": _lang_confusion_sql(),
    "lsh_recall_audit": _lsh_recall_sql(),
    "ivf_recall_audit": _ivf_recall_sql(),
    "doc_lexical_diversity": _LEX_DIVERSITY_SQL,
    "doc_chunking": _DOC_CHUNKING_SQL,
    "kmeans_ivf_train": _kmeans_sql(),
    "embedding_quantize_int8": _QUANT_SQL,
    "similarity_topk_ivf_multiprobe": _MULTIPROBE_SQL,
    "similarity_topk_ivf_adc_rerank": _ADC_SQL,
    "similarity_topk_pq_adc": _pq_sql(),
    "dedup_lsh_verified": _lsh_verified_sql(),
    "similarity_topk_filtered": _FILTERED_TOPK_SQL,
}
