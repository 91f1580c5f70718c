from __future__ import annotations

import functools
import math
import os

import pandas as pd
import pytest


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from tmapreduce_spark.session import get_spark

    spark = get_spark(app_name="tmapreduce-tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def jobs_in_group(spark, group: str, fn) -> list[int]:
    """Run ``fn()`` under the Spark job group ``group``, then return the ids
    of the group's jobs once the status store has seen every event. Threads
    started with ``InheritableThread`` inside ``fn`` inherit the group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


@functools.cache
def catalog():
    """``build_catalog()``, built once per test session."""
    from tmapreduce_spark.catalog import build_catalog

    return build_catalog()


def run_entry(spark, name: str) -> pd.DataFrame:
    """Catalog entry ``name`` run at the smoke scale factor, as pandas."""
    return catalog()[name].fn(spark, SF_SMOKE).toPandas()


def smoke_table(name: str, cols: str = "*") -> pd.DataFrame:
    """The ``cols`` projection of smoke-scale table ``name``, read by DuckDB."""
    import duckdb

    return duckdb.sql(f"SELECT {cols} FROM '{SF_SMOKE}/{name}.parquet'").df()


def mround6(x: float) -> float:
    """Round half up on the 1e-6 grid, the rounding ``parity.mround(x, 6)``
    gives on both engines. Test-side arithmetic, so references stay
    independent of the package."""
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


def register_duck_views(con, sf_dir: str) -> None:
    from tmapreduce_spark.sources.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )


@pytest.fixture(scope="module")
def in_driver_max_chars():
    """The launch gate the MapReduce tests build their engines with: the
    default, so small payloads run in the driver.
    ``tests/test_mapreduce_spark_path.py`` overrides it with 0 to re-run the
    same tests on the Spark path."""
    from tmapreduce_spark.mapreduce import IN_DRIVER_MAX_CHARS

    return IN_DRIVER_MAX_CHARS
