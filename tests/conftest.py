from __future__ import annotations

import contextlib
import io
import os
import sys
from typing import NamedTuple

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def spark():
    from realtimedatawarehouse_self_spark.session import get_spark

    spark = get_spark(
        app_name="rtdw-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield spark
    spark.stop()


def explain_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class QueryBuild(NamedTuple):
    jobs: int  # Spark jobs run while the query function built its frame
    schema: object
    plan: str | None  # explain("formatted"); None for streaming twins


@pytest.fixture(scope="session")
def registry_builds(spark) -> dict[str, QueryBuild]:
    """Every registered query built once at sf0.001, shared by the build
    contracts (no jobs at construction, no Python UDF, no Decimal/temporal
    output). After the schema cache is warmed (a table's first read pays a
    footer job), each query is built in sorted order under its own job
    group, whose jobs are counted once the listener bus drains. Schemas and
    plans are read after every build, so they add to no count."""
    import __spark_entry__ as e
    from realtimedatawarehouse_self_spark.sources.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, SF_SMOKE, t)
    sc = spark.sparkContext
    frames, jobs = {}, {}
    for name, fn in sorted(e.queries().items()):
        sc.setJobGroup(f"build:{name}", "query construction")
        frames[name] = fn(spark, SF_SMOKE)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"build:{name}"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    return {
        name: QueryBuild(
            jobs[name],
            df.schema,
            None if name.startswith("streaming_") else explain_text(df),
        )
        for name, df in frames.items()
    }


@pytest.fixture(scope="session")
def sf() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()

