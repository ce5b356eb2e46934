"""Shared column-expression helpers.

Everything here is a *Catalyst expression builder* — pure `pyspark.sql.functions`
composition, no Python UDFs — so every consumer stays inside whole-stage
codegen. Money semantics mirror the reference's BigDecimal sums
(``Dws09TradeSkuOrderWindow.java:153-201``): cast to DECIMAL(18,2) per row
*before* summing, so aggregation is exact and bit-identical across engines
(Spark vs the DuckDB oracle) regardless of partial-aggregation order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"
TS_FMT = "yyyy-MM-dd HH:mm:ss"


def dec(col, scale_type: str = MONEY) -> Column:
    """Exact-decimal cast for money/measure columns (reference: BigDecimal)."""
    c = col if isinstance(col, Column) else F.col(col)
    return c.cast(scale_type)


def money_cents(col) -> Column:
    """Round a double amount to exact integer cents: floor(x*100 + 0.5).

    This is the scaled-integer money pattern (the reference's BigDecimal sums,
    ``Dws09...java:153-201``, re-expressed for columnar exactness): the
    half-up rounding happens in pure double arithmetic, which is bit-identical
    across engines, and everything downstream (sums, comparisons, ordering)
    is exact 64-bit integer math. Avoids engine-specific double->decimal
    rounding differences entirely.
    """
    c = col if isinstance(col, Column) else F.col(col)
    return F.floor(c * 100 + F.lit(0.5)).cast("bigint")


def cents_amount(col) -> Column:
    """Render summed cents back to a double amount (exact for |x| < 2^53)."""
    c = col if isinstance(col, Column) else F.col(col)
    return c.cast("double") / F.lit(100.0)


INT64_MAX = (1 << 63) - 1
INT64_MIN = -(1 << 63)


def checked_bigint(col, name: str) -> Column:
    """Cast a wide (DECIMAL/internal) value to BIGINT, RAISING on overflow.

    The engine keeps wide-integer arithmetic internal and emits int64 at the
    output boundary (the driver's value-hash renders DECIMAL/HUGEINT
    differently from BIGINT even for equal values — the r5 hash-red class).
    Non-ANSI Spark would silently NULL an overflowing decimal->bigint cast;
    this helper turns that into a loud failure so a 100 TB run can never
    ship a wrapped/NULLed metric. The DuckDB oracle side gets the same
    guard for free: HUGEINT->BIGINT casts error on overflow.
    """
    c = col if isinstance(col, Column) else F.col(col)
    in_range = (c >= F.lit(INT64_MIN)) & (c <= F.lit(INT64_MAX))
    return (
        F.when(in_range, c.cast("bigint"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"int64 overflow at output boundary '{name}': "),
                    c.cast("string"),
                )
            ).cast("bigint")
        )
        .alias(name)
    )


def window_bounds(window_col: str = "w") -> list[Column]:
    """Stamp window start/end as `stt`/`edt` strings.

    Mirrors the reference's finishing WindowFunction that formats window
    boundaries into the output bean (``Dws02...java:187-203`` and the SQL
    variant ``DwsTrafficKeywordPageViewWindow.java:105-106``).
    """
    return [
        F.date_format(F.col(f"{window_col}.start"), TS_FMT).alias("stt"),
        F.date_format(F.col(f"{window_col}.end"), TS_FMT).alias("edt"),
    ]


def tokens(text_col: str = "text") -> Column:
    """Whitespace tokenization with empties removed (UDTF analogue, U1).

    The reference tokenizes with the IK Chinese analyzer inside a Flink
    TableFunction (``SplitFunction.java:12-28``); here tokenization is a
    JVM-side `split` + `filter` so it stays vectorized. A pluggable
    pandas-UDF tokenizer hook lives in functions/text.py for real analyzers.
    """
    return F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))


def word_shingles(tokens_col: Column, n: int = 3) -> Column:
    """n-gram word shingles as an array column (dedup primitives).

    Built with `transform(sequence(...))` so shingling runs inside codegen —
    no Python involved even at 100 TB.
    """
    parts = [
        "tok_arr[i]" if k == 0 else f"tok_arr[i+{k}]" for k in range(n)
    ]
    concat = ", ' ', ".join(parts)
    expr = (
        f"CASE WHEN size(tok_arr) < {n} THEN array() "
        f"ELSE transform(sequence(0, size(tok_arr) - {n}), "
        f"i -> concat({concat})) END"
    )
    # expression refers to tok_arr; caller binds via a named intermediate col
    return F.expr(expr)


def dot_product(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over array<double> columns.

    `zip_with` + `aggregate` evaluate left-to-right in one codegen stage, so
    the floating-point result is deterministic and matches any engine that
    loops over the list in index order (e.g. DuckDB's list_dot_product).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_sq(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)


def cosine(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (F.sqrt(l2_norm_sq(a)) * F.sqrt(l2_norm_sq(b)))


def occurrence_tagged(sorted_col: str) -> str:
    """SQL expression: SORTED array<string> multiset -> occurrence-tagged
    string SET (each element suffixed with ' <k>', k = 0-based index of
    the occurrence within its equal-run).

    Turns multiset intersection into plain set intersection:
    |A ∩multiset B| = |tag(A) ∩set tag(B)| because min(cA(g), cB(g)) =
    |{(g,k) : k < cA(g) and k < cB(g)}|. The tag is unambiguous whenever
    both arrays hold grams of one fixed n (fixed token count or fixed
    char length): equal tagged strings then decompose into equal
    (gram, k). Runs inside the JVM (higher-order functions, no Python);
    per-row cost is O(G) on an already-sorted array. `sorted_col` MUST be
    array_sort()-ed — the run detection compares adjacent elements.
    """
    s = sorted_col
    starts = (
        f"filter(sequence(0, size({s}) - 1),"
        f" i_ -> i_ = 0 OR {s}[i_] != {s}[i_ - 1])"
    )
    ends = f"concat(slice({starts}, 2, size({s})), array(size({s})))"
    # lambda vars carry a trailing underscore so a caller's column name
    # can never be shadowed by them
    return (
        f"CASE WHEN size({s}) = 0 THEN array() ELSE "
        f"flatten(zip_with({starts}, {ends},"
        f" (rs_, re_) -> transform(sequence(rs_, re_ - 1),"
        f" p_ -> concat({s}[rs_], ' ', CAST(p_ - rs_ AS STRING))))) END"
    )


def ordered_pair_structs(arr_col: str, a_alias: str, b_alias: str) -> Column:
    """Array column -> array of structs over all ordered index pairs i<j
    (upper triangle). THE pair-explode primitive for set-overlap /
    co-occurrence operators (audience overlap, co-engagement graph,
    source span overlap) — one definition so the subtle index arithmetic
    cannot drift per call site. Runs inside codegen; empty/singleton
    arrays yield an empty pair array."""
    return F.expr(
        f"CASE WHEN size({arr_col}) < 2 THEN array() "
        f"ELSE flatten(transform(sequence(0, size({arr_col}) - 2), "
        f"i -> transform(sequence(i + 1, size({arr_col}) - 1), "
        f"j -> struct({arr_col}[i] AS {a_alias}, "
        f"{arr_col}[j] AS {b_alias})))) END"
    )
