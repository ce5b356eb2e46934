"""Scale-pattern mining operators: bounded-memory heavy hitters, audience
set-overlap, exact distributed Gram/covariance, and corpus-LM bigram
coverage scoring.

These extend the beyond-reference analytics surface (closest reference
analogues: the per-key count reduces in ``Dws02...java:81-203`` — which
always shuffle the FULL key cardinality — and the keyword frequency window
``DwsTrafficKeywordPageViewWindow.java:50-106``):

- Heavy hitters is THE bounded-memory pattern for 100 TB key profiling:
  a per-partition Misra-Gries sketch (fixed ``k`` counters, no shuffle)
  produces a small candidate superset, then one exact recount restricted
  to the broadcast candidates confirms. The full user cardinality never
  crosses the wire — only ``<= k * n_partitions`` candidate ids plus the
  per-candidate exact counts. The final output is EXACT and deterministic
  (the threshold filter runs on exact counts), so the oracle is the plain
  GROUP BY/HAVING — the sketch only bounds memory, never changes answers.
- Audience overlap avoids the naive distinct-pairs self-join (quadratic in
  per-user activity): one distinct, one collect_set per user (bounded by
  the #event_types domain), then a bounded in-row pair explode — shuffle
  carries at most ``n_users * T(T-1)/2`` tiny rows for T event types.
- The Gram/covariance matrix is one-pass distributed linear algebra in
  exact integer arithmetic: per-row outer products (upper triangle) explode
  to ``d(d+1)/2`` cells inside codegen, and map-side combine collapses each
  partition to ``d(d+1)/2`` partial sums before the single tiny shuffle.
  Accumulation is DECIMAL(38,0)/HUGEINT — int64 products of micro-unit
  embeddings wrap once row counts pass ~1e5 at |x| ~ 10 (1e14 per product).
- Bigram LM coverage is the log-free corpus-LM quality filter: the corpus'
  frequent-bigram table (pruned by MIN count, vocab-bounded — far smaller
  than the corpus) broadcasts to a per-document coverage ratio. Documents
  whose bigrams the corpus LM has "seen" score high; gibberish scores low.

Float-determinism doctrine: no floating point anywhere in these four —
every ratio is an integer micro-unit division (``x * 1e6 div y``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realtimedatawarehouse_self_spark.functions.exprs import (
    ordered_pair_structs,
    tokens,
)
from realtimedatawarehouse_self_spark.plans.llm_ops import materialize_repeated_ctes
from realtimedatawarehouse_self_spark.session import apply_runtime_confs
from realtimedatawarehouse_self_spark.sources.tables import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    return load_table(spark, sf_dir, "events")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    return load_table(spark, sf_dir, "documents", fan_out=True)


# ---------------------------------------------------------------------------
# Heavy hitters: users generating >= 1/HH_DEN of all events.
#
# Guarantee chain: a user with global count >= n/HH_DEN has, in at least
# one partition p, count_p >= n_p/HH_DEN (pigeonhole); a Misra-Gries sketch
# with k = HH_DEN counters undercounts any item by at most n_p/(k+1)
# < n_p/HH_DEN, so that user's counter is positive and the user survives
# into the candidate set. False candidates are removed by the exact
# recount, so the output never depends on partition boundaries or row
# order. (Misra & Gries 1982; the distributed two-pass confirm is the
# standard production variant.)
# ---------------------------------------------------------------------------
HH_DEN = 125  # heavy = at least 1/125 of all events (13/150 users at sf0.01)


def _mg_candidates(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition Misra-Gries over `user_id` with HH_DEN counters.

    Vectorized: each Arrow batch folds in via value_counts; when the
    counter table exceeds k, subtracting the (size-k)-th smallest count
    from ALL counters (and dropping <= 0) is the batched decrement step —
    each unit subtracted removes >= k+1 units of total mass, preserving
    the n_p/(k+1) undercount bound.
    """
    k = HH_DEN
    counters = pd.Series(dtype="int64")
    for batch in batches:
        counters = counters.add(batch["user_id"].value_counts(), fill_value=0)
        if len(counters) > k:
            cut = counters.nsmallest(len(counters) - k).iloc[-1]
            counters = counters[counters > cut] - cut
    yield pd.DataFrame({"user_id": counters.index.astype("int64")})


def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id")  # column-pruned scan
    candidates = (
        ev.mapInPandas(_mg_candidates, "user_id BIGINT").distinct()
    )
    total = _events(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    exact = (
        ev.join(F.broadcast(candidates), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("event_ct"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("event_ct") * HH_DEN >= F.col("n_total"))
    )
    return exact.select(
        "user_id",
        "event_ct",
        F.expr("event_ct * 1000000 div n_total").alias("share_micro"),
    )


_HH_SQL = f"""
WITH total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM events),
cnt AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS event_ct
    FROM events GROUP BY 1
)
SELECT c.user_id, c.event_ct,
       c.event_ct * 1000000 // t.n_total AS share_micro
FROM cnt c CROSS JOIN total t
WHERE c.event_ct * {HH_DEN} >= t.n_total
"""


# ---------------------------------------------------------------------------
# Audience overlap: pairwise Jaccard between event-type user sets.
# ---------------------------------------------------------------------------
def audience_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("event_type", "user_id").distinct()
    # Per-user sorted type set (bounded by the event_type domain), then ONE
    # in-row explode emitting both the singleton markers (type, NULL) —
    # whose counts are the per-type audience sizes — and the ordered pairs
    # — whose counts are the intersections. One scan, one combine-backed
    # shuffle; the naive distinct-pairs self-join (quadratic in per-user
    # activity) and a second sizes pass over events are both avoided.
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("ts_arr")
    )
    singles = F.expr(
        "transform(ts_arr, t -> "
        "struct(t AS type_a, CAST(NULL AS STRING) AS type_b))"
    )
    combo = per_user.select(
        F.explode(
            F.concat(singles, ordered_pair_structs("ts_arr", "type_a", "type_b"))
        ).alias("p")
    ).select("p.type_a", "p.type_b")
    # Tiny result (<= T + T(T-1)/2 rows for T event types): persist so the
    # three consumers below reuse it instead of re-running the events scan.
    counts = (
        combo.groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
        .persist()
    )
    sizes = counts.filter(F.col("type_b").isNull()).select(
        F.col("type_a").alias("t"), F.col("ct").alias("n_users")
    )
    inter = counts.filter(F.col("type_b").isNotNull()).select(
        "type_a", "type_b", F.col("ct").alias("inter_ct")
    )
    sz_a = sizes.select(F.col("t").alias("type_a"), F.col("n_users").alias("users_a"))
    sz_b = sizes.select(F.col("t").alias("type_b"), F.col("n_users").alias("users_b"))
    return (
        inter.join(F.broadcast(sz_a), "type_a")
        .join(F.broadcast(sz_b), "type_b")
        .select(
            "type_a",
            "type_b",
            "users_a",
            "users_b",
            "inter_ct",
            F.expr(
                "inter_ct * 1000000 div (users_a + users_b - inter_ct)"
            ).alias("jaccard_micro"),
        )
    )


_OVERLAP_SQL = """
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
    FROM d GROUP BY 1
),
inter AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS inter_ct
    FROM d a JOIN d b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, sa.n_users AS users_a, sb.n_users AS users_b,
       i.inter_ct,
       i.inter_ct * 1000000 // (sa.n_users + sb.n_users - i.inter_ct)
           AS jaccard_micro
FROM inter i
JOIN sizes sa ON i.type_a = sa.event_type
JOIN sizes sb ON i.type_b = sb.event_type
"""


# ---------------------------------------------------------------------------
# Exact distributed Gram + covariance numerators over the embedding table.
#
# Embeddings quantize to integer micro-units (floor(x * 1e6) — float->double
# widening is exact and *1e6 is correctly rounded, so both engines quantize
# identically), and everything downstream is exact wide-integer math:
#   dot(i,j)     = sum_r q_r[i] * q_r[j]          (upper triangle i <= j)
#   cov_num(i,j) = n * dot(i,j) - s_i * s_j        (covariance numerator*n^2
#                                                   in micro^2 units)
# ---------------------------------------------------------------------------
EMB_DIM = 64
Q_SCALE = 1_000_000


def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    q = emb.select(
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            f" * {Q_SCALE}.0) AS BIGINT))"
        ).alias("q")
    )
    # ONE explode per row carries all three moment families — upper-triangle
    # products (i,j), per-index sums tagged (i,0), and the row-count tag
    # (0,0) — so the embeddings table is scanned ONCE and the groupBy's
    # map-side combine collapses each partition to d(d+1)/2 + d + 1 rows
    # before the single tiny shuffle.
    #
    # r10 optimization (guide §1.2 "per-task work"): the per-cell value is
    # a BIGINT product, not DECIMAL(38,0) — q[i]*q[j] is at most ~1e12 in
    # micro^2 units for unit-scale embeddings (|x| <= ~3e3 keeps it inside
    # int64), so the 2,145-cells-per-row Generate and the hash aggregate
    # run as codegen long arithmetic instead of interpreted BigDecimal.
    # Exactness across rows is preserved by a two-level SPLIT SUM: each
    # cell is summed as (v div 2^20, v mod 2^20) — both identities hold
    # exactly for negatives under Spark's truncating div/% — and the two
    # BIGINT partials recombine into DECIMAL(38,0) only at the 2,145-row
    # moments level. Overflow bound: |v| <= 1.1e12 gives |hi| <= 1.05e6,
    # |lo| < 2^20, so both partial sums stay in int64 up to ~8.8e12 rows
    # (~2.2 PB of raw float32 at d=64) — above the 100 TB target; the
    # DECIMAL recombination itself is unbounded. Same math, same output
    # strings; only the per-cell representation changed (12.2 s -> see
    # OPTIMIZATION_r10.md).
    _SPLIT = 1 << 20
    cells = q.select(
        F.explode(
            F.expr(
                f"concat("
                f"flatten(transform(sequence(1, {EMB_DIM}), "
                f"i -> transform(sequence(i, {EMB_DIM}), "
                f"j -> struct(i AS i, j AS j, "
                f"q[i-1] * q[j-1] AS prod)))), "
                f"transform(sequence(1, {EMB_DIM}), "
                f"i -> struct(i AS i, 0 AS j, q[i-1] AS prod)), "
                f"array(struct(0 AS i, 0 AS j, "
                f"CAST(1 AS BIGINT) AS prod)))"
            )
        ).alias("c")
    ).select("c.i", "c.j", "c.prod")
    # Tiny aggregate (2,145 rows at d=64): persist so the three consumers
    # below reuse it instead of re-running the scan + explode.
    moments = (
        cells.groupBy("i", "j")
        .agg(
            F.sum(F.expr(f"prod div {_SPLIT}")).alias("hi"),
            F.sum(F.expr(f"prod % {_SPLIT}")).alias("lo"),
        )
        .select(
            "i",
            "j",
            (
                F.col("hi").cast("decimal(38,0)") * F.lit(_SPLIT)
                + F.col("lo")
            )
            .cast("decimal(38,0)")
            .alias("m"),
        )
        .persist()
    )
    dots = moments.filter((F.col("i") > 0) & (F.col("j") > 0)).select(
        "i", "j", F.col("m").alias("dot")
    )
    sums = moments.filter((F.col("i") > 0) & (F.col("j") == 0)).select(
        "i", F.col("m").alias("s")
    )
    n = moments.filter((F.col("i") == 0) & (F.col("j") == 0)).select(
        F.col("m").alias("n_rows")
    )
    return (
        dots.join(F.broadcast(sums.select(F.col("i"), F.col("s").alias("s_i"))), "i")
        .join(
            F.broadcast(
                sums.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
            ),
            "j",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            # Output boundary: STRING-encoded wide integers on BOTH sides.
            # The driver's value-hash renders DECIMAL/HUGEINT differently
            # from BIGINT (r5 hash-red class), and clamping to int64 is NOT
            # scale-safe here: cov_num ~ n^2 * 1e12 micro^2 units overflows
            # int64 at only ~23k embedding rows (measured 6.8e16 at sf0.1's
            # 2k rows). decimal(38,0) -> string is plain digits (scale-0
            # BigDecimal never uses exponent notation), identical to
            # DuckDB's HUGEINT -> VARCHAR.
            F.col("dot").cast("string").alias("dot"),
            (F.col("n_rows") * F.col("dot") - F.col("s_i") * F.col("s_j"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("cov_num"),
        )
    )


_GRAM_SQL = f"""
WITH q AS (
    SELECT list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {Q_SCALE}.0) AS BIGINT))
           AS q
    FROM embeddings
),
cells AS (
    SELECT CAST(a.i AS INTEGER) AS i, CAST(b.j AS INTEGER) AS j,
           CAST(q.q[a.i] AS HUGEINT) * q.q[b.j] AS prod
    FROM q,
         UNNEST(range(1, {EMB_DIM} + 1)) AS a(i),
         UNNEST(range(1, {EMB_DIM} + 1)) AS b(j)
    WHERE a.i <= b.j
),
dots AS (
    SELECT i, j, CAST(sum(prod) AS HUGEINT) AS dot
    FROM cells GROUP BY 1, 2
),
sums AS (
    SELECT CAST(a.i AS INTEGER) AS i,
           CAST(sum(CAST(q.q[a.i] AS HUGEINT)) AS HUGEINT) AS s
    FROM q, UNNEST(range(1, {EMB_DIM} + 1)) AS a(i)
    GROUP BY 1
),
n AS (SELECT CAST(count(*) AS HUGEINT) AS n_rows FROM q)
SELECT d.i, d.j,
       CAST(d.dot AS VARCHAR) AS dot,
       CAST(n.n_rows * d.dot - si.s * sj.s AS VARCHAR) AS cov_num
FROM dots d
JOIN sums si ON d.i = si.i
JOIN sums sj ON d.j = sj.i
CROSS JOIN n
"""


# ---------------------------------------------------------------------------
# Top principal direction of the embedding Gram matrix by power iteration —
# the building block behind PCA whitening / spectral outlier scoring of an
# embedding corpus, in EXACT integer arithmetic so the oracle can gate it.
#
# Algorithm: w_0 = 1e6·ones(d); repeat POWER_ROUNDS times
#     u = G·w ;  w = u·1e6 div max|u|      (max-abs normalization — unlike
# L2 it needs no sqrt, so every iterate stays an exact integer vector; the
# fixed point is the same dominant eigenvector, scaled so max|w| = 1e6).
# Convergence is |λ2/λ1|^t like any power method; 3 rounds from the ones
# vector is the documented default for a top-1 direction sanity profile
# (the iterate count is a constant in the SQL mirror, so both engines run
# the identical unrolled computation).
#
# Scale shape: the ONLY data-sized work is the Gram build (one scan + one
# d(d+1)/2-explode combine — the same shape embedding_gram_matrix pins);
# every iteration is a join of the 4,096-row G against a d-row vector —
# broadcast, constant cost, INDEPENDENT of corpus size. At 100 TB the
# iterations are free; the scan dominates, exactly once.
#
# Integer headroom: |G| <= n·(1e6·|x|max)² ≈ n·1e11 (|x| < 0.5). Since
# the r10 BIGINT split-sum Gram build, the BINDING bound is the BIGINT
# lo-partial sum of the per-row products: n·2^20 < 2^63, i.e.
# n ≲ 8.8e12 rows (~2.2 PB of raw float32 at d=64 — comfortably past the
# 100 TB target; the old DECIMAL(38,0) n < 1e19 bound now applies only to
# the d²-row recombination and the u accumulator: d·|G|·1e6 ≈ n·6.4e18,
# inside 38 digits for the same n range). `div` truncates toward zero
# identically in both engines (timeseries.py:320), so negative components
# round the same.
# ---------------------------------------------------------------------------
POWER_ROUNDS = 3
W_SCALE = 1_000_000


def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram build, then single-row HOF iterations.

    The ONLY data-sized stage is the Gram build (one scan + the triangle
    explode-combine). The d×d matrix (64 KB at d=64) then collapses to ONE
    row — ordered rows of ordered cells — and the three iterations run as
    `zip_with`/`aggregate` matvec EXPRESSIONS over that row: constant
    work, zero join/shuffle stages per iterate beyond the one-row plan
    barriers noted below. (The first cut iterated with per-round
    broadcast joins; the 2^rounds duplicated-subtree plan cost ~4.6 s of
    pure task-scheduling at sf0.1 — the HOF form runs the identical
    arithmetic in a handful of one-row projections.)
    """
    apply_runtime_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    q = emb.select(
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            f" * {Q_SCALE}.0) AS BIGINT))"
        ).alias("q")
    )
    # r10 optimization (guide §1.2 "per-task work", same change as
    # embedding_gram_matrix): per-cell products are BIGINT (|q[i]*q[j]| <=
    # ~1.1e12 in micro^2 units), summed exactly via the two-level split sum
    # (hi = prod div 2^20, lo = prod % 2^20 — both identities exact for
    # negatives under truncating div/%) and recombined into DECIMAL(38,0)
    # only at the d(d+1)/2-row Gram level. The Generate + partial aggregate
    # run as codegen long arithmetic instead of interpreted BigDecimal;
    # g's value (and everything downstream) is bit-identical.
    _SPLIT = 1 << 20
    cells = q.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, {EMB_DIM}), "
                f"i -> transform(sequence(i, {EMB_DIM}), "
                f"j -> struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, "
                f"q[i-1] * q[j-1] AS prod))))"
            )
        ).alias("c")
    ).select("c.i", "c.j", "c.prod")
    tri = (
        cells.groupBy("i", "j")
        .agg(
            F.sum(F.expr(f"prod div {_SPLIT}")).alias("hi"),
            F.sum(F.expr(f"prod % {_SPLIT}")).alias("lo"),
        )
        .select(
            "i",
            "j",
            (
                F.col("hi").cast("decimal(38,0)") * F.lit(_SPLIT)
                + F.col("lo")
            )
            .cast("decimal(38,0)")
            .alias("g"),
        )
    )
    full = tri.unionAll(
        tri.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    )
    # Row-major pack: per-i sorted cell array, then one sorted row-of-rows.
    rows = full.groupBy("i").agg(
        F.expr("transform(array_sort(collect_list(struct(j, g))), c -> c.g)").alias(
            "grow"
        )
    )
    mat = rows.agg(
        F.expr("transform(array_sort(collect_list(struct(i, grow))), r -> r.grow)").alias(
            "m"
        )
    )
    dec0 = "CAST(0 AS DECIMAL(38,0))"
    matvec = (
        "transform(m, row -> aggregate(zip_with(row, w, (a, b) -> a * b), "
        f"{dec0}, (acc, x) -> CAST(acc + x AS DECIMAL(38,0))))"
    )
    df = mat.withColumn(
        "w",
        F.expr(f"array_repeat(CAST({W_SCALE} AS DECIMAL(38,0)), {EMB_DIM})"),
    )
    for _ in range(POWER_ROUNDS):
        # The trailing select+coalesce(1) is a PLAN BARRIER, not a layout
        # choice (the frame is already one row): each round's w references
        # u twice (value + mx), so without a barrier CollapseProject
        # inlines u per reference and the expression tree grows ~2× per
        # round — at 3 rounds the interpreted HOF evaluator re-derives the
        # whole chain exponentially (observed: minutes of BigDecimal eval
        # for one row). The Repartition node pins each round's result to
        # an attribute, keeping the tree linear in POWER_ROUNDS.
        df = (
            df.withColumn("u", F.expr(matvec))
            .withColumn("mx", F.expr("array_max(transform(u, x -> abs(x)))"))
            .withColumn(
                "w",
                F.expr(
                    f"transform(u, x -> CAST(x * {W_SCALE}"
                    f" div nullif(mx, 0) AS DECIMAL(38,0)))"
                ),
            )
            .select("m", "w")
            .coalesce(1)
        )
    # Rayleigh quotient at the final iterate: λ = wᵀGw / wᵀw.
    df = (
        df.withColumn("ufin", F.expr(matvec))
        .withColumn(
            "num",
            F.expr(
                f"aggregate(zip_with(w, ufin, (a, b) -> a * b), {dec0}, "
                "(acc, x) -> CAST(acc + x AS DECIMAL(38,0)))"
            ),
        )
        .withColumn(
            "den",
            F.expr(
                f"aggregate(zip_with(w, w, (a, b) -> a * b), {dec0}, "
                "(acc, x) -> CAST(acc + x AS DECIMAL(38,0)))"
            ),
        )
        .withColumn("lambda_q", F.expr("CAST(num div nullif(den, 0) AS BIGINT)"))
        .select("w", "lambda_q")
        .coalesce(1)
    )
    # posexplode_OUTER on purpose: plain posexplode makes the optimizer
    # infer a `size(w) > 0` Filter and push it through every barrier with
    # the full nested-HOF chain substituted into the predicate — the
    # exponential tree comes back as one interpreted Filter (found via
    # jstack: GeneratedClass$SpecificPredicate over the whole iterate
    # chain). w is never null/empty, so OUTER is semantically identical.
    return df.select(
        F.posexplode_outer("w").alias("pos", "wv"), "lambda_q"
    ).select(
        F.expr("CAST(pos + 1 AS BIGINT)").alias("dim_id"),
        F.col("wv").cast("bigint").alias("eigvec_scaled"),
        "lambda_q",
    )


def _power_iter_sql() -> str:
    rounds = []
    prev = "w0"
    for t in range(1, POWER_ROUNDS + 1):
        rounds.append(
            f"u{t} AS (SELECT g.i, CAST(sum(g.g * w.w) AS HUGEINT) AS u"
            f" FROM g JOIN {prev} w ON w.i = g.j GROUP BY 1),\n"
            f"m{t} AS (SELECT max(abs(u)) AS m FROM u{t}),\n"
            f"w{t} AS (SELECT i, CAST(u * {W_SCALE}"
            f" // nullif((SELECT m FROM m{t}), 0) AS HUGEINT) AS w"
            f" FROM u{t})"
        )
        prev = f"w{t}"
    return f"""
WITH q AS (
    SELECT list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {Q_SCALE}.0) AS BIGINT))
           AS q
    FROM embeddings
),
tri AS (
    SELECT CAST(a.i AS BIGINT) AS i, CAST(b.j AS BIGINT) AS j,
           CAST(sum(CAST(q.q[a.i] AS HUGEINT) * q.q[b.j]) AS HUGEINT) AS g
    FROM q,
         UNNEST(range(1, {EMB_DIM} + 1)) AS a(i),
         UNNEST(range(1, {EMB_DIM} + 1)) AS b(j)
    WHERE a.i <= b.j
    GROUP BY 1, 2
),
g AS (
    SELECT i, j, g FROM tri
    UNION ALL
    SELECT j AS i, i AS j, g FROM tri WHERE i < j
),
w0 AS (SELECT DISTINCT i, CAST({W_SCALE} AS HUGEINT) AS w FROM g),
{','.join(rounds)},
ufin AS (
    SELECT g.i, CAST(sum(g.g * w.w) AS HUGEINT) AS u
    FROM g JOIN {prev} w ON w.i = g.j GROUP BY 1
),
ray AS (
    SELECT CAST(sum(w.w * u.u)
                // nullif(sum(w.w * w.w), 0) AS BIGINT) AS lambda_q
    FROM {prev} w JOIN ufin u ON u.i = w.i
)
SELECT CAST(w.i AS BIGINT) AS dim_id,
       CAST(w.w AS BIGINT) AS eigvec_scaled,
       ray.lambda_q
FROM {prev} w CROSS JOIN ray
"""


# ---------------------------------------------------------------------------
# Bigram LM coverage: per-document fraction of adjacent bigrams that the
# corpus has seen >= LM_MIN_CT times.
# ---------------------------------------------------------------------------
LM_MIN_CT = 3


def lm_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(tok_arr) < 2 THEN array() "
                "ELSE transform(sequence(0, size(tok_arr) - 2), "
                "i -> struct(tok_arr[i] AS lhs, tok_arr[i+1] AS rhs)) END"
            )
        ).alias("p"),
    ).select("doc_id", "p.lhs", "p.rhs")
    # pairs feeds both the LM table and the per-doc scoring join; persist so
    # the tokenize+explode subtree runs once (same contract note as BM25's
    # tf persist — the builder returns an unexecuted frame, LRU-evictable).
    pairs = pairs.persist()
    # The corpus LM: bigrams seen >= LM_MIN_CT times. Vocab-bounded and
    # MIN-pruned — orders of magnitude smaller than the corpus, hence
    # broadcast. (If a corpus' frequent-bigram table outgrew the broadcast
    # threshold, drop the hint and let AQE pick a shuffle join — the
    # per-doc aggregation below is unchanged.)
    lm = (
        pairs.groupBy("lhs", "rhs")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
        .filter(F.col("ct") >= LM_MIN_CT)
        .select("lhs", "rhs", F.lit(1).alias("seen"))
    )
    scored = pairs.join(F.broadcast(lm), ["lhs", "rhs"], "left").groupBy(
        "doc_id"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum(F.coalesce(F.col("seen"), F.lit(0)).cast("bigint")).alias(
            "covered"
        ),
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "covered",
        F.expr("covered * 1000000 div n_bigrams").alias("coverage_micro"),
    )


_LM_SQL = f"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS t
    FROM documents
),
pairs AS (
    SELECT doc_id, t[i] AS lhs, t[i+1] AS rhs
    FROM tok, UNNEST(range(1, greatest(len(t), 1))) AS u(i)
),
lm AS (
    SELECT lhs, rhs FROM pairs GROUP BY 1, 2
    HAVING count(*) >= {LM_MIN_CT}
),
scored AS (
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN l.lhs IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS covered
    FROM pairs p
    LEFT JOIN lm l ON p.lhs = l.lhs AND p.rhs = l.rhs
    GROUP BY 1
)
SELECT doc_id, n_bigrams, covered,
       covered * 1000000 // n_bigrams AS coverage_micro
FROM scored
"""


# ---------------------------------------------------------------------------
# PageRank over the user co-engagement graph — the numeric-iterative
# distributed algorithm family (complement to `dedup_clusters`' label
# propagation). Fixed iteration count unrolls into ONE declarative DAG:
# each iteration is a join + combine-backed aggregation over the persisted
# edge list, so Catalyst/AQE optimize the whole chain and nothing touches
# the driver between iterations.
#
# Graph: users co-active in the same (event_type, hour) bucket, edge
# weight = number of shared buckets. Buckets larger than BUCKET_CAP users
# are dropped BEFORE the pair explode (the hub-bucket guard — same design
# as the shingle df-cap in dedup_ngram_jaccard): per-bucket pairs are then
# ≤ BUCKET_CAP², so edge count is linear in bucket count at any corpus
# size, and the documented recall cost is only "everyone was there"
# buckets that carry no affinity signal anyway.
#
# Arithmetic is pure int64 — rank mass starts at 1e6 per node and only
# shrinks (floor divisions), so r*w < n_nodes·1e6·w_max stays far inside
# bigint at any realistic scale (overflow needs n·w_max > 9e12); the
# floored update is written identically in both engines, making all three
# unrolled iterations bit-exact.
# ---------------------------------------------------------------------------
BUCKET_CAP = 200
PR_ITERS = 3
PR_SCALE = 1_000_000


def pagerank_co_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL users can't be graph nodes; filtering BEFORE the aggregation
    # (pushed to the scan) also keeps the bucket-size cap identical to the
    # oracle's windowed count, which would otherwise count a NULL row
    # (collect_set drops NULLs; count(*) does not — a one-off cap-boundary
    # divergence the NULL fixture exists to forbid).
    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull()).select(
        "event_type", F.date_trunc("hour", "ts").alias("h"), "user_id"
    )
    # Per-bucket user sets via one combine-backed aggregation (collect_set
    # dedups, so no separate distinct shuffle), pairs via an in-row explode
    # (≤ CAP²/2 per bucket) — no bucket self-join shuffle either.
    buckets = ev.groupBy("event_type", "h").agg(
        F.array_sort(F.collect_set("user_id")).alias("us")
    ).filter(F.size("us") <= BUCKET_CAP)
    pairs = (
        buckets.select(
            F.explode(ordered_pair_structs("us", "ua", "ub")).alias("p")
        )
        .groupBy("p.ua", "p.ub")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        # No persist (r10 A/B: 6.75 s without vs 6.98 s with): the pair
        # aggregate is an exchange boundary, so every downstream consumer
        # (symmetrize, degree, each unrolled iteration's join, rank init)
        # hits the same ReusedExchange — the scan + bucket self-join
        # already run exactly once without cache materialization cost.
    )
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("ua").alias("src"), F.col("ub").alias("dst"), "w"),
                F.struct(F.col("ub").alias("src"), F.col("ua").alias("dst"), "w"),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    deg = edges.groupBy("src").agg(F.sum("w").alias("deg"))
    edges = edges.join(deg, "src")
    ranks = edges.select(F.col("src").alias("user_id")).distinct().withColumn(
        "r", F.lit(PR_SCALE).cast("bigint")
    )
    for _ in range(PR_ITERS):
        contrib = edges.join(
            ranks, edges.src == ranks.user_id
        ).select("dst", F.expr("r * w div deg").alias("c"))
        ranks = contrib.groupBy(F.col("dst").alias("user_id")).agg(
            F.expr("150000 + (85 * sum(c)) div 100").alias("r")
        )
    return ranks.select("user_id", F.col("r").alias("rank_micro"))


def _pagerank_sql() -> str:
    # CAST each iteration's r to BIGINT: un-cast sum/`//` chains are HUGEINT
    # in DuckDB, which the driver hash renders differently from BIGINT
    # (r5 hash-red class). Rank mass only shrinks from 1e6/node, so the
    # value itself always fits int64 (module header bound).
    iter_cte = """
r{next} AS (
    SELECT e.dst AS user_id,
           CAST(150000 + (85 * sum(r{cur}.r * e.w // e.deg)) // 100
                AS BIGINT) AS r
    FROM edges e JOIN r{cur} ON e.src = r{cur}.user_id
    GROUP BY 1
)"""
    iters = ",".join(
        iter_cte.format(cur=i, next=i + 1) for i in range(PR_ITERS)
    )
    return f"""
WITH b AS (
    SELECT DISTINCT event_type, date_trunc('hour', ts) AS h, user_id
    FROM events WHERE user_id IS NOT NULL
),
bn AS (
    SELECT event_type, h, user_id,
           count(*) OVER (PARTITION BY event_type, h) AS bucket_n
    FROM b
),
bc AS (SELECT * FROM bn WHERE bucket_n <= {BUCKET_CAP}),
pairs AS (
    SELECT a.user_id AS ua, c.user_id AS ub,
           CAST(count(*) AS BIGINT) AS w
    FROM bc a JOIN bc c
      ON a.event_type = c.event_type AND a.h = c.h
     AND a.user_id < c.user_id
    GROUP BY 1, 2
),
edges_raw AS (
    SELECT ua AS src, ub AS dst, w FROM pairs
    UNION ALL
    SELECT ub AS src, ua AS dst, w FROM pairs
),
deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS deg FROM edges_raw GROUP BY 1),
edges AS (
    SELECT e.src, e.dst, e.w, d.deg
    FROM edges_raw e JOIN deg d ON e.src = d.src
),
r0 AS (
    SELECT DISTINCT src AS user_id, CAST({PR_SCALE} AS BIGINT) AS r
    FROM edges
),{iters}
SELECT user_id, r AS rank_micro FROM r{PR_ITERS}
"""


# ---------------------------------------------------------------------------
# Triangle counting / clustering coefficient over the same co-engagement
# graph as `pagerank_co_engagement` (shared bucket + BUCKET_CAP hub guard).
# Completes the graph family: components (dedup_clusters), rank
# (pagerank), local density (this).
#
# Scale design — degree-ordered edge orientation (the published O(m^1.5)
# algorithm: Chiba & Nishizeki 1985; the MapReduce form is Suri & Vassilvitskii
# WWW'11 "Counting Triangles and the Curse of the Last Reducer"): each
# undirected edge is directed from its lower-(degree, id) endpoint to the
# higher one, so every wedge is generated at its LOWEST-degree vertex and a
# hub of degree d generates ~0 wedges instead of d^2/2. Wedge volume is
# bounded by sum(out_deg^2) <= O(m * sqrt(m)) regardless of skew — the
# "curse of the last reducer" (one hub's d^2 wedges landing on one task)
# cannot occur. The triangle SET is orientation-independent, so the oracle
# counts the same triangles with plain id-ordering and the per-user counts
# match exactly. Pure integer arithmetic throughout (clustering coefficient
# as micro-units, floor division).
#
# Grain: MINUTE buckets, deliberately finer than pagerank's hour buckets.
# Hour-grain co-presence saturates into a near-complete graph as event
# density grows (measured: sf0.1 → 789k edges / 197M triangles — any
# engine drowns, because the graph itself is O(n²)); same-minute
# co-presence is the actual affinity signal and keeps per-bucket
# cardinality bounded by instantaneous activity, so edge count stays
# linear in bucket count at any corpus size (sf0.1: 23k edges).
# ---------------------------------------------------------------------------
def _minute_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-engagement edges (ua < ub) at MINUTE grain
    with the BUCKET_CAP hub guard — shared by `triangle_count_co_engagement`
    and `link_prediction_common_neighbors` (identical oracle CTE prefix).

    Design note (measured, not guessed): a count-first variant — bucket
    sizes via combine-backed countDistinct, over-cap buckets dropped by a
    semi-join BEFORE any collect_set, so a mega-hub bucket never
    materializes its user array in one aggregation buffer — was built and
    measured. It costs 2.21 s vs 0.91 s at sf0.1 (the extra semi-join
    shuffle) and saves NOTHING on the 100×-replicated stress fixture
    (149 s vs 137 s): the dominant cost there is the pair explode's
    151M-edge output, which is the documented CAP²-per-bucket bound doing
    its job, not the collect buffer (linear in bucket size, and the cap
    runs before the quadratic explode). So the single-shuffle form below
    stays; the residual tail risk (one agg buffer holding a
    many-million-user flash-minute array before the size filter drops it)
    is linear memory and bounded by instantaneous co-presence."""
    # NOT NULL first (pushed to the scan): collect_set drops NULL users
    # but the oracle's windowed bucket count would not, so an un-filtered
    # NULL row could flip a bucket across the cap boundary on one side.
    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull()).select(
        "event_type", F.date_trunc("minute", "ts").alias("h"), "user_id"
    )
    buckets = ev.groupBy("event_type", "h").agg(
        F.array_sort(F.collect_set("user_id")).alias("us")
    ).filter(F.size("us") <= BUCKET_CAP)
    return (
        buckets.select(
            F.explode(ordered_pair_structs("us", "ua", "ub")).alias("p")
        )
        .select("p.ua", "p.ub")
        .distinct()
    )


def triangle_count_co_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10 persist A/B (5 variants × 2 interleaved cycles): NO persists is
    # fastest (1.52 s vs 2.46 s all / 5.00 s edge-list-only). The edge
    # list, degree frame, and oriented frame all sit behind exchanges, so
    # ReusedExchange shares each across its consumers within the one
    # plan; caching them only adds materialization cost.
    und = _minute_edges(spark, sf_dir)
    deg = (
        und.select(F.col("ua").alias("id"))
        .unionAll(und.select(F.col("ub").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    da = deg.select(F.col("id").alias("ua"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("ub"), F.col("deg").alias("deg_b"))
    e = und.join(da, "ua").join(db, "ub")
    lower_first = F.struct(F.col("deg_a"), F.col("ua")) < F.struct(
        F.col("deg_b"), F.col("ub")
    )
    oriented = e.select(
        F.when(lower_first, F.col("ua")).otherwise(F.col("ub")).alias("src"),
        F.when(lower_first, F.col("ub")).otherwise(F.col("ua")).alias("dst"),
        F.when(lower_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias(
            "dst_deg"
        ),
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    # Wedges at the low-degree apex; enforcing rank(v) < rank(w) means the
    # closing edge v—w, if present, is oriented exactly v -> w.
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (
            F.struct(F.col("e1.dst_deg"), F.col("e1.dst"))
            < F.struct(F.col("e2.dst_deg"), F.col("e2.dst"))
        ),
    ).select(
        F.col("e1.src").alias("u"),
        F.col("e1.dst").alias("v"),
        F.col("e2.dst").alias("w"),
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "left_semi",
    )
    tpu = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri_ct"))
    )
    return (
        deg.join(tpu, "id", "left")
        .withColumn("tri_ct", F.coalesce("tri_ct", F.lit(0).cast("bigint")))
        .select(
            F.col("id").alias("user_id"),
            "deg",
            "tri_ct",
            F.expr(
                "CASE WHEN deg >= 2 THEN (tri_ct * 2000000) div (deg * (deg - 1)) "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("clustering_micro"),
        )
    )


_TRIANGLE_SQL = f"""
WITH b AS (
    SELECT DISTINCT event_type, date_trunc('minute', ts) AS h, user_id
    FROM events WHERE user_id IS NOT NULL
),
bn AS (
    SELECT event_type, h, user_id,
           count(*) OVER (PARTITION BY event_type, h) AS bucket_n
    FROM b
),
bc AS (SELECT * FROM bn WHERE bucket_n <= {BUCKET_CAP}),
und AS (
    SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
    FROM bc a JOIN bc c
      ON a.event_type = c.event_type AND a.h = c.h
     AND a.user_id < c.user_id
),
deg AS (
    SELECT id, CAST(count(*) AS BIGINT) AS deg
    FROM (SELECT ua AS id FROM und UNION ALL SELECT ub AS id FROM und)
    GROUP BY 1
),
tri AS (
    SELECT a.ua AS u, a.ub AS v, b.ub AS w
    FROM und a
    JOIN und b ON a.ub = b.ua
    JOIN und c ON c.ua = a.ua AND c.ub = b.ub
),
tpu AS (
    SELECT id, CAST(count(*) AS BIGINT) AS tri_ct
    FROM (
        SELECT u AS id FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri
    )
    GROUP BY 1
)
SELECT d.id AS user_id, d.deg,
       COALESCE(t.tri_ct, CAST(0 AS BIGINT)) AS tri_ct,
       CASE WHEN d.deg >= 2
            THEN COALESCE(t.tri_ct, CAST(0 AS BIGINT)) * 2000000
                 // (d.deg * (d.deg - 1))
            ELSE CAST(0 AS BIGINT) END AS clustering_micro
FROM deg d LEFT JOIN tpu t ON t.id = d.id
"""


# ---------------------------------------------------------------------------
# Link prediction over the minute-grain co-engagement graph — completes
# the graph family with the standard "who should be connected next"
# primitive: for every NON-adjacent pair (u, w) at distance 2, count
# common neighbors and the Resource-Allocation index
# (RA = Σ_z 1/deg(z) over common neighbors z — Zhou/Lü/Zhang 2009; the
# log-free cousin of Adamic-Adar, which is exactly why it fits the
# integer-micro-unit doctrine: 1e6 div deg is exact in both engines,
# 1/log(deg) is not).
#
# Scale design — the wedge join through intermediate z generates
# deg(z)²/2 candidate pairs per z, so ONE hub would quadratically drown
# the shuffle ("curse of the last reducer" again, but unlike triangles
# the pair set itself is the OUTPUT — orientation can't save us).
# The principled cut: intermediates are restricted to deg(z) ≤
# LINKPRED_HUB_CAP. This is part of the operator's SEMANTICS (mirrored in
# the oracle), and it is the standard practice for RA/AA at scale: a hub
# shared by millions contributes ≤ 1/HUB_CAP ≈ nothing to the RA score
# while generating almost all the candidate volume. Wedge volume is then
# bounded by HUB_CAP · m. MIN_CN ≥ 2 bounds the emitted pair list to
# pairs with genuine multi-witness support.
# ---------------------------------------------------------------------------
LINKPRED_HUB_CAP = 50  # intermediates above this degree are RA-negligible
LINKPRED_MIN_CN = 2


def link_prediction_common_neighbors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Edge list feeds degree, both wedge sides, AND the adjacency
    # anti-join — all behind exchanges, so ReusedExchange runs the scan +
    # pair explode once without a persist (r10 A/B: 1.83 s vs 2.75 s).
    und = _minute_edges(spark, sf_dir)
    deg = (
        und.select(F.col("ua").alias("id"))
        .unionAll(und.select(F.col("ub").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    adj = und.select(F.col("ua").alias("u"), F.col("ub").alias("z")).unionAll(
        und.select(F.col("ub").alias("u"), F.col("ua").alias("z"))
    )
    thru = adj.join(
        deg.filter(F.col("deg") <= LINKPRED_HUB_CAP)
        .select(F.col("id").alias("z"), F.col("deg").alias("deg_z")),
        "z",
    )
    a1, a2 = thru.alias("a1"), thru.alias("a2")
    wedges = a1.join(
        a2,
        (F.col("a1.z") == F.col("a2.z")) & (F.col("a1.u") < F.col("a2.u")),
    ).select(
        F.col("a1.u").alias("ua"),
        F.col("a2.u").alias("ub"),
        F.col("a1.deg_z").alias("deg_z"),
    )
    cand = (
        wedges.groupBy("ua", "ub")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum(F.expr("1000000 div deg_z")).cast("bigint").alias(
                "ra_micro"
            ),
        )
        .filter(F.col("cn") >= LINKPRED_MIN_CN)
    )
    # distance exactly 2: drop pairs that are already edges
    return cand.join(und, ["ua", "ub"], "left_anti").select(
        "ua", "ub", "cn", "ra_micro"
    )


_LINKPRED_SQL = f"""
WITH b AS (
    SELECT DISTINCT event_type, date_trunc('minute', ts) AS h, user_id
    FROM events WHERE user_id IS NOT NULL
),
bn AS (
    SELECT event_type, h, user_id,
           count(*) OVER (PARTITION BY event_type, h) AS bucket_n
    FROM b
),
bc AS (SELECT * FROM bn WHERE bucket_n <= {BUCKET_CAP}),
und AS (
    SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
    FROM bc a JOIN bc c
      ON a.event_type = c.event_type AND a.h = c.h
     AND a.user_id < c.user_id
),
deg AS (
    SELECT id, CAST(count(*) AS BIGINT) AS deg
    FROM (SELECT ua AS id FROM und UNION ALL SELECT ub AS id FROM und)
    GROUP BY 1
),
adj AS (
    SELECT ua AS u, ub AS z FROM und
    UNION ALL
    SELECT ub AS u, ua AS z FROM und
),
thru AS (
    SELECT a.u, a.z, d.deg AS deg_z
    FROM adj a JOIN deg d ON d.id = a.z
    WHERE d.deg <= {LINKPRED_HUB_CAP}
),
cand AS (
    SELECT a1.u AS ua, a2.u AS ub,
           CAST(count(*) AS BIGINT) AS cn,
           CAST(sum(1000000 // a1.deg_z) AS BIGINT) AS ra_micro
    FROM thru a1 JOIN thru a2 ON a1.z = a2.z AND a1.u < a2.u
    GROUP BY 1, 2
    HAVING count(*) >= {LINKPRED_MIN_CN}
)
SELECT c.ua, c.ub, c.cn, c.ra_micro
FROM cand c
WHERE NOT EXISTS (
    SELECT 1 FROM und e WHERE e.ua = c.ua AND e.ub = c.ub
)
"""


# ---------------------------------------------------------------------------
# Bounded-hop BFS reachability over the minute-grain co-engagement graph:
# every user within BFS_HOPS hops of the hub seed (the max-degree node,
# ties to the larger id — picked by one 1-row struct-max aggregate, never
# a driver-side sort), with the exact hop distance. The "blast radius"
# primitive — who is touched if the hub's content is contaminated —
# completing the graph family's traversal axis (components = unbounded
# reachability; this = distance-bounded with per-node depth).
#
# Scale: the classic distributed BFS — each round is ONE join of the
# (persisted) adjacency list against the current frontier, and the
# frontier/visited sets are magnitudes below the edge list, so the probe
# broadcasts (same escape hatch as kcore: at a scale where a frontier
# outgrows broadcast, drop the hint and AQE shuffles it). A fixed hop
# count unrolls to one declarative DAG; the oracle is a recursive CTE
# whose UNION dedups (id, dist) pairs, so both sides compute min-distance
# BFS, bounded by nodes × (BFS_HOPS+1) rows regardless of path count.
# ---------------------------------------------------------------------------
BFS_HOPS = 3


def reachable_users_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = _minute_edges(spark, sf_dir).persist()
    deg = (
        und.select(F.col("ua").alias("id"))
        .unionAll(und.select(F.col("ub").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    adj = und.select(F.col("ua").alias("u"), F.col("ub").alias("z")).unionAll(
        und.select(F.col("ub").alias("u"), F.col("ua").alias("z"))
    )
    # empty graph ⇒ the struct-max aggregate still emits one NULL row
    # (the oracle's LIMIT 1 emits none) — drop it so both sides agree
    seed = (
        deg.agg(F.max(F.struct("deg", "id")).alias("s"))
        .select(F.col("s.id").alias("user_id"))
        .filter(F.col("user_id").isNotNull())
    )
    visited = seed.withColumn("dist", F.lit(0).cast("bigint")).persist()
    for hop in range(1, BFS_HOPS + 1):
        # r11 (guide §2.4, the kcore-class fix): the frontier is READ BACK
        # out of the persisted `visited` (dist = hop-1) instead of
        # re-deriving it from the previous round's unpersisted `nxt` plan —
        # the broadcast build used to re-run the whole propagation join +
        # distinct + anti-join once per hop on top of paying for it inside
        # the union, doubling every round's corpus-side work.
        frontier = visited.filter(
            F.col("dist") == hop - 1
        ).select("user_id")
        nxt = (
            adj.join(
                F.broadcast(frontier.select(F.col("user_id").alias("u"))),
                "u",
            )
            .select(F.col("z").alias("user_id"))
            .distinct()
            .join(visited.select("user_id"), "user_id", "left_anti")
            .withColumn("dist", F.lit(hop).cast("bigint"))
        )
        # each round reads `visited` three times (frontier + anti-join +
        # union) and the next round reads it again — persist keeps the
        # DAG linear in hops, the BFS analogue of kcore persisting
        # per-round survivors
        visited = visited.unionAll(nxt).persist()
    return visited


_BFS_SQL = f"""
WITH RECURSIVE b AS (
    SELECT DISTINCT event_type, date_trunc('minute', ts) AS h, user_id
    FROM events WHERE user_id IS NOT NULL
),
bn AS (
    SELECT event_type, h, user_id,
           count(*) OVER (PARTITION BY event_type, h) AS bucket_n
    FROM b
),
bc AS (SELECT * FROM bn WHERE bucket_n <= {BUCKET_CAP}),
und AS (
    SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
    FROM bc a JOIN bc c
      ON a.event_type = c.event_type AND a.h = c.h
     AND a.user_id < c.user_id
),
deg AS (
    SELECT id, CAST(count(*) AS BIGINT) AS deg
    FROM (SELECT ua AS id FROM und UNION ALL SELECT ub AS id FROM und)
    GROUP BY 1
),
adj AS (
    SELECT ua AS u, ub AS z FROM und
    UNION ALL
    SELECT ub AS u, ua AS z FROM und
),
seed AS (SELECT id FROM deg ORDER BY deg DESC, id DESC LIMIT 1),
walk(user_id, dist) AS (
    SELECT id, CAST(0 AS BIGINT) FROM seed
    UNION
    SELECT a.z, CAST(w.dist + 1 AS BIGINT)
    FROM walk w JOIN adj a ON a.u = w.user_id
    WHERE w.dist < {BFS_HOPS}
)
SELECT user_id, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY 1
"""
# — completes the graph family: components (dedup_clusters), rank
# (pagerank), local density (triangles), cohesive subgraphs (this).
#
# Semantics, stated exactly: `in_core` = the node survives KCORE_ROUNDS
# synchronized peeling rounds at threshold KCORE_K (each round
# simultaneously removes every node whose degree among current survivors
# is < K). This is the standard distributed k-core iteration; a fixed
# round count makes it ONE declarative DAG (like the unrolled PageRank)
# instead of a driver-controlled fixpoint loop — rounds where nothing is
# removed are free re-aggregations, and the oracle unrolls the identical
# CTE chain so the per-round survivor sets are bit-equal. Peeling is
# order-independent within a round (simultaneous removal), so the result
# is partitioning-independent by construction.
# ---------------------------------------------------------------------------
KCORE_K = 3
KCORE_ROUNDS = 3
# Input-size threshold for collapsing the persisted edge list into few
# partitions before the round chain. Below it, the frame fits a handful of
# tasks and per-round scheduling overhead dominates (the local[32] case);
# above it (cluster scale), keep the shuffle layout and let AQE size the
# partitions — a billion-edge list must never be forced through 8 tasks.
# r10: the switch reads the events table's FILE SIZE (driver-side
# metadata, no Spark job) instead of count()-ing the edge frame — the
# count was a build-time action that materialized the persisted edge
# list before the query's timed execution ever started (an untimed-work
# leak the r10 bench-protocol fix closes); a metadata probe keeps the
# decision but leaves all computation inside the query's own execution.
# Unreadable/remote paths conservatively report "big" -> no coalesce.
KCORE_SMALL_INPUT_BYTES = 64 * 1024 * 1024


def _local_input_bytes(sf_dir: str, name: str) -> int:
    import os

    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(p):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(p)
                for f in files
            )
        return os.path.getsize(p)
    except OSError:
        return 1 << 60


def kcore_peeling_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = _minute_edges(spark, sf_dir)
    # The edge list is orders of magnitude smaller than the fact scan
    # (bounded by bucket count x CAP^2/2). When the INPUT is small,
    # collapsing partitions before the 3x(2 semi-joins + combine) round
    # chain removes ~6 rounds of per-task scheduling overhead on a frame
    # that fits in one task. At cluster scale the branch doesn't fire.
    if _local_input_bytes(sf_dir, "events") <= KCORE_SMALL_INPUT_BYTES:
        und = und.coalesce(8)
    und = und.persist()
    edges = und.select(
        F.col("ua").alias("src"), F.col("ub").alias("dst")
    ).unionAll(und.select(F.col("ub").alias("src"), F.col("ua").alias("dst")))
    survivors = edges.select(F.col("src").alias("id")).distinct()
    deg0 = None
    for r in range(KCORE_ROUNDS):
        # each round references `survivors` TWICE (both join sides): an
        # unpersisted chain re-evaluates the previous rounds 2^r times —
        # persisting the (tiny) per-round survivor set keeps the DAG
        # linear in rounds, the k-core analogue of pagerank persisting
        # its pair list
        survivors = survivors.persist()
        # broadcast both survivor probes: the survivor set (distinct
        # co-engaged users) is magnitudes below the edge list, so each
        # round is one map-side filter pass + combine instead of two
        # shuffle joins — at a scale where users outgrow broadcast,
        # drop the hint and AQE falls back to shuffled semi-joins.
        # r10: both probes keep the survivor column named `id` (explicit
        # join conditions instead of per-side renames) so both probes'
        # survivor subtrees canonicalize identically and the CacheManager
        # substitutes the SAME persisted survivor entry into each — the
        # measured r10 win (3.63→3.04 s A/B) is both probes READING the
        # cached frame instead of the dst side re-deriving it. r11
        # captured the post-execution AQE final plan (ADVICE r10 #1,
        # plans/r11/kcore_peeling_rounds_aqe_final.txt): it shows TWO
        # BroadcastQueryStages per round over the same
        # InMemoryTableScan and NO ReusedExchange — AQE does not dedup
        # the broadcast BUILD across the two probes. What remains
        # duplicated is therefore one hash-relation build over the
        # (tiny, persisted) survivor rows per probe, bounded by the
        # survivor-set size — not the survivor derivation.
        sa, sb = survivors.alias("kc_sa"), survivors.alias("kc_sb")
        deg = (
            edges.join(
                F.broadcast(sa), edges["src"] == sa["id"], "left_semi"
            )
            .join(F.broadcast(sb), edges["dst"] == sb["id"], "left_semi")
            .groupBy("src")
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        )
        if deg0 is None:
            deg0 = deg  # degree in the full graph, reported alongside
        survivors = deg.filter(F.col("deg") >= KCORE_K).select(
            F.col("src").alias("id")
        )
    all_nodes = edges.select(F.col("src").alias("user_id")).distinct()
    return (
        all_nodes.join(
            deg0.select(F.col("src").alias("user_id"), "deg"), "user_id"
        )
        .join(
            survivors.select(
                F.col("id").alias("user_id"), F.lit(1).alias("in_core")
            ),
            "user_id",
            "left",
        )
        .select(
            "user_id",
            "deg",
            F.coalesce("in_core", F.lit(0)).cast("bigint").alias("in_core"),
        )
    )


def _kcore_sql() -> str:
    round_cte = """
s{next} AS (
    SELECT e.src AS id
    FROM edges e
    JOIN s{cur} a ON e.src = a.id
    JOIN s{cur} b ON e.dst = b.id
    GROUP BY 1
    HAVING count(*) >= {k}
)"""
    rounds = ",".join(
        round_cte.format(cur=i, next=i + 1, k=KCORE_K)
        for i in range(KCORE_ROUNDS)
    )
    return f"""
WITH b AS (
    SELECT DISTINCT event_type, date_trunc('minute', ts) AS h, user_id
    FROM events WHERE user_id IS NOT NULL
),
bn AS (
    SELECT event_type, h, user_id,
           count(*) OVER (PARTITION BY event_type, h) AS bucket_n
    FROM b
),
bc AS (SELECT * FROM bn WHERE bucket_n <= {BUCKET_CAP}),
und AS (
    SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
    FROM bc a JOIN bc c
      ON a.event_type = c.event_type AND a.h = c.h
     AND a.user_id < c.user_id
),
edges AS (
    SELECT ua AS src, ub AS dst FROM und
    UNION ALL
    SELECT ub AS src, ua AS dst FROM und
),
s0 AS (SELECT DISTINCT src AS id FROM edges),
deg0 AS (
    SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
    FROM edges GROUP BY 1
),{rounds}
SELECT d.id AS user_id, d.deg,
       CAST(CASE WHEN s.id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_core
FROM deg0 d LEFT JOIN s{KCORE_ROUNDS} s ON s.id = d.id
"""


# ---------------------------------------------------------------------------
# Bigram-LM probability quality score — the probability-weighted upgrade of
# `lm_bigram_coverage` (the CCNet-style "LM quality filter" shape: score
# documents by how predictable their text is under a corpus-trained LM,
# keep/bucket by score). Coverage asks "has the corpus SEEN this bigram";
# this asks "how LIKELY is this bigram given its prefix":
#
#   P(rhs | lhs) ~= count(lhs, rhs) / count(lhs, *)   (MLE, no smoothing)
#   doc score    = mean over the doc's bigram INSTANCES, micro-units.
#
# Integer determinism: prob_micro = big_ct * 1e6 div uni_ct (both exact
# corpus counts), summed per doc as bigints, floored mean. No logs — the
# textbook perplexity exp(-mean log P) is monotone-decreasing in mean log P
# while this is mean P; both order "predictable" above "gibberish", but
# mean-P weights frequent easy bigrams more. Documented engine semantics,
# bit-identical in the oracle.
#
# The LM table is MIN-pruned (>= LM_MIN_CT) so it stays vocab-bounded and
# broadcastable at corpus scale — same argument as `lm_bigram_coverage`.
# Pruned bigrams contribute probability 0 (they're exactly the
# hapax-legomena tail whose MLE estimate is noise anyway). uni_ct is the
# UNPRUNED prefix total, so surviving probabilities remain true fractions
# of a proper distribution. Shuffles: the corpus-sized pair frame is
# aggregated twice from one persisted explode (lm + the per-doc score);
# everything else is vocab-sized.
# ---------------------------------------------------------------------------
def lm_quality_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tok_arr", tokens("text"))
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(tok_arr) < 2 THEN array() "
                "ELSE transform(sequence(0, size(tok_arr) - 2), "
                "i -> struct(tok_arr[i] AS lhs, tok_arr[i+1] AS rhs)) END"
            )
        ).alias("p"),
    ).select("doc_id", "p.lhs", "p.rhs")
    pairs = pairs.persist()
    uni = pairs.groupBy("lhs").agg(
        F.count(F.lit(1)).cast("bigint").alias("uni_ct")
    )
    lm = (
        pairs.groupBy("lhs", "rhs")
        .agg(F.count(F.lit(1)).cast("bigint").alias("big_ct"))
        .filter(F.col("big_ct") >= LM_MIN_CT)
        .join(uni, "lhs")
        .select(
            "lhs",
            "rhs",
            F.expr("big_ct * 1000000 div uni_ct").alias("prob_micro"),
        )
    )
    scored = (
        pairs.join(F.broadcast(lm), ["lhs", "rhs"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(F.coalesce(F.col("prob_micro"), F.lit(0)).cast("bigint"))
            .alias("sum_prob_micro"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "sum_prob_micro",
        F.expr("sum_prob_micro div n_bigrams").alias("mean_prob_micro"),
    )


_LM_PROB_SQL = f"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS t
    FROM documents
),
pairs AS (
    SELECT doc_id, t[i] AS lhs, t[i+1] AS rhs
    FROM tok, UNNEST(range(1, greatest(len(t), 1))) AS u(i)
),
uni AS (
    SELECT lhs, CAST(count(*) AS BIGINT) AS uni_ct FROM pairs GROUP BY 1
),
lm AS (
    SELECT b.lhs, b.rhs, b.big_ct * 1000000 // u.uni_ct AS prob_micro
    FROM (
        SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS big_ct
        FROM pairs GROUP BY 1, 2
        HAVING count(*) >= {LM_MIN_CT}
    ) b JOIN uni u ON b.lhs = u.lhs
),
scored AS (
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(coalesce(l.prob_micro, 0)) AS BIGINT) AS sum_prob_micro
    FROM pairs p
    LEFT JOIN lm l ON p.lhs = l.lhs AND p.rhs = l.rhs
    GROUP BY 1
)
SELECT doc_id, n_bigrams, sum_prob_micro,
       sum_prob_micro // n_bigrams AS mean_prob_micro
FROM scored
"""


# ---------------------------------------------------------------------------
# Degree distribution of the co-engagement graph — the first thing to look
# at before trusting ANY of the graph family above: pagerank/k-core/triangle
# costs are all driven by the degree tail, and the hub cap's effect is
# directly visible here (no degree can exceed what capped buckets admit).
# Shape: the shared edge frame, one union-all degree count, one combine-
# backed histogram on tiny (deg) keys — strictly cheaper than any consumer.
# ---------------------------------------------------------------------------
def degree_distribution_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    und = _minute_edges(spark, sf_dir)
    deg = (
        und.select(F.col("ua").alias("id"))
        .unionAll(und.select(F.col("ub").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    return deg.groupBy("deg").agg(
        F.count(F.lit(1)).cast("bigint").alias("user_ct"),
        F.min("id").cast("bigint").alias("min_user"),
        F.max("id").cast("bigint").alias("max_user"),
    )


_DEGREE_HIST_SQL = f"""
WITH b AS (
    SELECT DISTINCT event_type, date_trunc('minute', ts) AS h, user_id
    FROM events WHERE user_id IS NOT NULL
),
bn AS (
    SELECT event_type, h, user_id,
           count(*) OVER (PARTITION BY event_type, h) AS bucket_n
    FROM b
),
bc AS (SELECT * FROM bn WHERE bucket_n <= {BUCKET_CAP}),
und AS (
    SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
    FROM bc a JOIN bc c
      ON a.event_type = c.event_type AND a.h = c.h
     AND a.user_id < c.user_id
),
deg AS (
    SELECT id, CAST(count(*) AS BIGINT) AS deg
    FROM (SELECT ua AS id FROM und UNION ALL SELECT ub AS id FROM und)
    GROUP BY 1
)
SELECT deg,
       CAST(count(*) AS BIGINT) AS user_ct,
       CAST(min(id) AS BIGINT) AS min_user,
       CAST(max(id) AS BIGINT) AS max_user
FROM deg GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Community detection by synchronous label propagation (Raghavan et al.
# 2007) over the shared minute-grain co-engagement graph — completes the
# graph family's fourth pillar: components (dedup_clusters), rank
# (pagerank), density (triangle), cores (kcore), COMMUNITIES (this).
# LPA's known nondeterminism (random tie-breaks, async order) is removed
# the repo's standard way: synchronous rounds (every node updates from the
# PREVIOUS round's labels) and a total tie order (neighbor-label count
# DESC, label ASC), so the execution is a pure function of the edge set —
# partition-independent and oracle-replayable. LPA_ROUNDS fixed rounds
# unrolled, per-round label frame persisted (the kcore recipe: without it
# round r re-derives rounds 1..r-1).
#
# Scale: per round = one edge-sized join + a (node, label) combine + a
# per-node argmax window — linear in |edges|, which BUCKET_CAP bounds;
# label state is one row per node.
# ---------------------------------------------------------------------------
LPA_ROUNDS = 3


def community_label_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    und = _minute_edges(spark, sf_dir)
    edges = (
        und.select(F.col("ua").alias("src"), F.col("ub").alias("dst"))
        .unionAll(
            und.select(F.col("ub").alias("src"), F.col("ua").alias("dst"))
        )
        # no persist (r10 A/B: none 2.20 s vs all-sites 3.06 s) — the
        # symmetrized edge list and each round's label frame ride
        # ReusedExchange across the unrolled rounds
    )
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    )
    for _ in range(LPA_ROUNDS):
        nb = edges.join(
            labels.select(F.col("id").alias("dst"), "lbl"), "dst"
        ).select(F.col("src").alias("id"), "lbl")
        votes = nb.groupBy("id", "lbl").agg(
            F.count(F.lit(1)).cast("bigint").alias("ct")
        )
        w = Window.partitionBy("id").orderBy(
            F.col("ct").desc(), F.col("lbl")
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "lbl")
        )
    # r11 (guide §2.4 "window keyed like the aggregation needs no second
    # shuffle"): community_size used to be a groupBy(lbl) aggregate joined
    # back onto labels — TWO traversals of the final round's window output
    # (its row_number sort re-ran per consumer above the shared votes
    # exchange) plus a join exchange pair. A count window over lbl is the
    # same value with ONE exchange and one pass; no broadcast-vs-shuffle
    # join decision remains to tune (the r7 ADVICE note about not
    # force-broadcasting `size` is moot — the join is gone).
    wsz = Window.partitionBy("lbl")
    return labels.select(
        F.col("id").alias("user_id"),
        F.col("lbl").alias("community_label"),
        F.count(F.lit(1)).over(wsz).cast("bigint").alias("community_size"),
    )


def _lpa_sql() -> str:
    round_cte = """l{next} AS (
    SELECT id, lbl FROM (
        SELECT e.src AS id, l.lbl,
               row_number() OVER (PARTITION BY e.src
                                  ORDER BY count(*) DESC, l.lbl) AS rn
        FROM edges e JOIN l{cur} l ON e.dst = l.id
        GROUP BY e.src, l.lbl
    ) WHERE rn = 1
)"""
    rounds = ",".join(
        round_cte.format(cur=i, next=i + 1) for i in range(LPA_ROUNDS)
    )
    return f"""
WITH b AS (
    SELECT DISTINCT event_type, date_trunc('minute', ts) AS h, user_id
    FROM events WHERE user_id IS NOT NULL
),
bn AS (
    SELECT event_type, h, user_id,
           count(*) OVER (PARTITION BY event_type, h) AS bucket_n
    FROM b
),
bc AS (SELECT * FROM bn WHERE bucket_n <= {BUCKET_CAP}),
und AS (
    SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
    FROM bc a JOIN bc c
      ON a.event_type = c.event_type AND a.h = c.h
     AND a.user_id < c.user_id
),
edges AS (
    SELECT ua AS src, ub AS dst FROM und
    UNION ALL
    SELECT ub AS src, ua AS dst FROM und
),
l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
{rounds},
size_ AS (
    SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
    FROM l{LPA_ROUNDS} GROUP BY 1
)
SELECT l.id AS user_id, l.lbl AS community_label, s.community_size
FROM l{LPA_ROUNDS} l JOIN size_ s ON l.lbl = s.lbl
"""


# ---------------------------------------------------------------------------
# Degree assortativity — Newman's degree-correlation coefficient (Phys.
# Rev. Lett. 89, 2002): does this graph wire hubs to hubs (r > 0, social
# networks) or hubs to leaves (r < 0, infrastructure)? The number that
# decides which sampling/partitioning strategies work on the graph. One
# exact rational over integer edge sums (remote-degree products), with
# the textbook Pearson-over-edges identity cross-multiplied so nothing
# leaves integers until the final floored micro:
#   r = (4M*S_jk - S_sum^2) / (2M*S_sq - S_sum^2)
# where per undirected edge: S_jk += j*k, S_sum += j+k, S_sq += j^2+k^2.
# Shares the minute-grain BUCKET_CAP edge frame with triangle/kcore/LPA
# (its cost is already measured); the degree join is the only extra
# shuffle and the output is ONE row. Sums ride DECIMAL(38,0)/HUGEINT
# (S_sq is O(M * deg^2)); division truncates toward zero identically.
# ---------------------------------------------------------------------------
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no persist (r10 A/B: 0.87 s without vs 1.64 s with — ReusedExchange)
    und = _minute_edges(spark, sf_dir)
    deg = (
        und.select(F.col("ua").alias("id"))
        .unionAll(und.select(F.col("ub").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    e = und.join(
        deg.select(F.col("id").alias("ua"), F.col("deg").alias("ja")), "ua"
    ).join(
        deg.select(F.col("id").alias("ub"), F.col("deg").alias("kb")), "ub"
    )
    return e.agg(
        F.count(F.lit(1)).cast("bigint").alias("m_edges"),
        F.sum(F.expr("CAST(ja AS DECIMAL(38,0)) * kb")).alias("_sjk"),
        F.sum(F.expr("CAST(ja + kb AS DECIMAL(38,0))")).alias("_ssum"),
        F.sum(
            F.expr("CAST(ja AS DECIMAL(38,0)) * ja + CAST(kb AS DECIMAL(38,0)) * kb")
        ).alias("_ssq"),
    ).select(
        "m_edges",
        F.expr("CAST(_sjk AS BIGINT)").alias("s_jk"),
        F.expr("CAST(_ssum AS BIGINT)").alias("s_sum"),
        F.expr("CAST(_ssq AS BIGINT)").alias("s_sq"),
        F.expr(
            "CASE WHEN m_edges = 0 OR 2 * m_edges * _ssq - _ssum * _ssum = 0"
            " THEN -1"
            " ELSE CAST((CAST(4 AS DECIMAL(38,0)) * m_edges * _sjk"
            " - _ssum * _ssum) * 1000000"
            " div (CAST(2 AS DECIMAL(38,0)) * m_edges * _ssq"
            " - _ssum * _ssum) AS BIGINT) END"
        ).alias("assortativity_micro"),
    )


_ASSORT_SQL = f"""
WITH b AS (
    SELECT DISTINCT event_type, date_trunc('minute', ts) AS h, user_id
    FROM events WHERE user_id IS NOT NULL
),
bn AS (
    SELECT event_type, h, user_id,
           count(*) OVER (PARTITION BY event_type, h) AS bucket_n
    FROM b
),
bc AS (SELECT * FROM bn WHERE bucket_n <= {BUCKET_CAP}),
und AS (
    SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
    FROM bc a JOIN bc c
      ON a.event_type = c.event_type AND a.h = c.h
     AND a.user_id < c.user_id
),
deg AS (
    SELECT id, CAST(count(*) AS BIGINT) AS deg
    FROM (SELECT ua AS id FROM und UNION ALL SELECT ub AS id FROM und)
    GROUP BY 1
),
e AS (
    SELECT da.deg AS ja, db.deg AS kb
    FROM und u
    JOIN deg da ON da.id = u.ua
    JOIN deg db ON db.id = u.ub
),
sums AS (
    SELECT CAST(count(*) AS BIGINT) AS m_edges,
           sum(CAST(ja AS HUGEINT) * kb) AS sjk,
           sum(CAST(ja + kb AS HUGEINT)) AS ssum,
           sum(CAST(ja AS HUGEINT) * ja + CAST(kb AS HUGEINT) * kb) AS ssq
    FROM e
)
SELECT m_edges,
       CAST(sjk AS BIGINT) AS s_jk,
       CAST(ssum AS BIGINT) AS s_sum,
       CAST(ssq AS BIGINT) AS s_sq,
       CASE WHEN m_edges = 0 OR 2 * m_edges * ssq - ssum * ssum = 0 THEN -1
            ELSE CAST((CAST(4 AS HUGEINT) * m_edges * sjk - ssum * ssum)
                 * 1000000
                 // (CAST(2 AS HUGEINT) * m_edges * ssq - ssum * ssum)
                 AS BIGINT) END AS assortativity_micro
FROM sums
"""


# ---------------------------------------------------------------------------
# Wave 36c: RAKE keyphrase extraction (Rose et al. 2010, "Automatic
# Keyword Extraction from Individual Documents") — the document-LOCAL
# keyword extractor complementing the corpus-level `tfidf_doc_keywords`:
# candidate phrases are maximal stopword-free token runs (the classic
# gaps-and-islands construction: island id = pos - row_number over
# non-stop positions), each word scores degree/frequency (degree = sum
# of the lengths of the islands its occurrences sit in), and a phrase
# scores the sum of its member-word scores. Integer micro arithmetic
# throughout (word score = degree * 1e6 // freq); identical duplicate
# phrases within a doc collapse (same members -> same score) before the
# top-K rank — (score DESC, phrase ASC) total order, WindowGroupLimit.
# Scale: everything is per-document — one posexplode, two per-doc
# combines, one per-doc top-K window. No corpus-level state at all, so
# the operator is embarrassingly parallel at any corpus size.
# ---------------------------------------------------------------------------
RAKE_TOP_K = 3


def keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtimedatawarehouse_self_spark.plans.llm_ops import STOPWORDS

    stop_arr = ", ".join(f"'{w}'" for w in STOPWORDS)
    docs = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .withColumn("tok_arr", tokens("text"))
    )
    pos = docs.select(
        "doc_id", F.posexplode("tok_arr").alias("pos", "token")
    )
    nonstop = pos.filter(
        ~F.expr(f"array_contains(array({stop_arr}), token)")
    )
    w_isl = Window.partitionBy("doc_id").orderBy("pos")
    islands = nonstop.withColumn(
        "isl", F.col("pos") - F.row_number().over(w_isl)
    ).persist()
    phr = islands.groupBy("doc_id", "isl").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "token"))),
                lambda t: t["token"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("bigint").alias("L"),
    )
    wstat = (
        islands.join(phr.select("doc_id", "isl", "L"), ["doc_id", "isl"])
        .groupBy("doc_id", "token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("L").cast("bigint").alias("deg"),
        )
        .withColumn("wscore", F.expr("deg * 1000000 div freq"))
    )
    pscore = (
        islands.join(
            wstat.select("doc_id", "token", "wscore"), ["doc_id", "token"]
        )
        .groupBy("doc_id", "isl")
        .agg(F.sum("wscore").cast("bigint").alias("score_micro"))
        .join(phr, ["doc_id", "isl"])
        .select("doc_id", "phrase", "L", "score_micro")
        .distinct()
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), "phrase"
    )
    return (
        pscore.withColumn("rnk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rnk") <= RAKE_TOP_K)
        .select(
            "doc_id",
            "phrase",
            F.col("L").alias("n_words"),
            "score_micro",
            "rnk",
        )
    )


def _rake_sql() -> str:
    from realtimedatawarehouse_self_spark.plans.llm_ops import STOPWORDS

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS t
    FROM documents WHERE text IS NOT NULL
),
pos AS (
    SELECT doc_id, i AS pos, t[i] AS token
    FROM tok, UNNEST(range(1, len(t) + 1)) AS u(i)
),
islands AS (
    SELECT doc_id, pos, token,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS isl
    FROM pos WHERE token NOT IN ({stop_list})
),
phr AS (
    SELECT doc_id, isl,
           string_agg(token, ' ' ORDER BY pos) AS phrase,
           CAST(count(*) AS BIGINT) AS L
    FROM islands GROUP BY 1, 2
),
wstat AS (
    SELECT i.doc_id, i.token,
           CAST(count(*) AS BIGINT) AS freq,
           CAST(sum(p.L) AS BIGINT) AS deg
    FROM islands i JOIN phr p ON i.doc_id = p.doc_id AND i.isl = p.isl
    GROUP BY 1, 2
),
pscore AS (
    SELECT DISTINCT i.doc_id, p.phrase, p.L,
           CAST(sum(w.deg * 1000000 // w.freq) AS BIGINT) AS score_micro
    FROM islands i
    JOIN wstat w ON i.doc_id = w.doc_id AND i.token = w.token
    JOIN phr p ON i.doc_id = p.doc_id AND i.isl = p.isl
    GROUP BY i.doc_id, i.isl, p.phrase, p.L
)
SELECT doc_id, phrase, L AS n_words, score_micro,
       CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score_micro DESC, phrase) AS rnk
    FROM pscore
) WHERE rnk <= {RAKE_TOP_K}
"""


QUERIES = {
    "degree_assortativity": degree_assortativity,
    "community_label_propagation": community_label_propagation,
    "heavy_hitter_users": heavy_hitter_users,
    "degree_distribution_histogram": degree_distribution_histogram,
    "pagerank_co_engagement": pagerank_co_engagement,
    "triangle_count_co_engagement": triangle_count_co_engagement,
    "link_prediction_common_neighbors": link_prediction_common_neighbors,
    "reachable_users_bfs": reachable_users_bfs,
    "kcore_peeling_rounds": kcore_peeling_rounds,
    "audience_overlap_jaccard": audience_overlap_jaccard,
    "embedding_gram_matrix": embedding_gram_matrix,
    "embedding_power_iteration": embedding_power_iteration,
    "lm_bigram_coverage": lm_bigram_coverage,
    "lm_quality_probability": lm_quality_probability,
    "keyphrase_rake": keyphrase_rake,
}

ORACLE = {
    "degree_assortativity": _ASSORT_SQL,
    "community_label_propagation": _lpa_sql(),
    "heavy_hitter_users": _HH_SQL,
    "degree_distribution_histogram": _DEGREE_HIST_SQL,
    "pagerank_co_engagement": _pagerank_sql(),
    "triangle_count_co_engagement": _TRIANGLE_SQL,
    "link_prediction_common_neighbors": _LINKPRED_SQL,
    "reachable_users_bfs": _BFS_SQL,
    "kcore_peeling_rounds": _kcore_sql(),
    "audience_overlap_jaccard": _OVERLAP_SQL,
    "embedding_gram_matrix": _GRAM_SQL,
    "embedding_power_iteration": materialize_repeated_ctes(_power_iter_sql()),
    "lm_bigram_coverage": _LM_SQL,
    "lm_quality_probability": _LM_PROB_SQL,
    "keyphrase_rake": _rake_sql(),
}
