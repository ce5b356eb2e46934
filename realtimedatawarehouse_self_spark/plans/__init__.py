"""Named query plans.

Each plan module exposes:
- ``QUERIES``: dict[name -> callable(spark, sf_dir) -> DataFrame]
- ``ORACLE``:  dict[name -> ANSI SQL string runnable by DuckDB on the same
  parquet tables] (omitted for non-SQL-expressible operators — those get the
  driver's weaker rows-only check and a dedicated pytest instead).

Column names are aliased identically on both sides: the driver's comparator
sorts columns by name before hashing values.
"""

from __future__ import annotations

from realtimedatawarehouse_self_spark.plans import (
    advanced,
    behavior,
    core,
    corpus_ops,
    curation,
    drift,
    experiment,
    extras,
    featurize,
    llm_ops,
    mining,
    entity,
    python_path,
    sft_ops,
    state_ops,
    retrieval,
    sketches,
    streaming_twins,
    timeseries,
    tpch,
)

# Registry order: core (the reference pipelines) first, then the extensions.
_MODULES = (
    core,
    curation,
    behavior,
    tpch,
    llm_ops,
    corpus_ops,
    experiment,
    extras,
    advanced,
    retrieval,
    mining,
    state_ops,
    drift,
    entity,
    featurize,
    sketches,
    streaming_twins,
    timeseries,
    python_path,
    sft_ops,
)


def all_queries():
    out = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return out


def all_oracles():
    out = {}
    for mod in _MODULES:
        out.update(mod.ORACLE)
    return out
