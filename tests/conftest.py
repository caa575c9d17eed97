"""Shared fixtures: one SparkSession per test run, DuckDB oracle helper."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbsurveyor_spark.catalog import TABLES, table_path  # noqa: E402
from dbsurveyor_spark.session import get_session  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_session("dbsurveyor-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def monkeypatch_module():
    """Module-scoped monkeypatch (the stock fixture is function-scoped)."""
    from _pytest.monkeypatch import MonkeyPatch

    mp = MonkeyPatch()
    yield mp
    mp.undo()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{table_path(SF_ORACLE, name)}'"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all values (order-insensitive compare)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for col in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[col]):
            df[col] = pd.to_datetime(df[col]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def assert_frames_match(spark_df, duck_df: pd.DataFrame, key: str) -> None:
    """Driver-style compare: row count, column names, exact values."""
    sp = _normalize(spark_df.toPandas())
    du = _normalize(duck_df)
    assert list(sp.columns) == list(du.columns), (
        f"{key}: columns differ: spark={list(sp.columns)} oracle={list(du.columns)}"
    )
    assert len(sp) == len(du), f"{key}: rows differ: spark={len(sp)} oracle={len(du)}"
    for col in sp.columns:
        a, b = sp[col].tolist(), du[col].tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            xn = x is None or (not isinstance(x, (list, tuple)) and pd.isna(x))
            yn = y is None or (not isinstance(y, (list, tuple)) and pd.isna(y))
            if xn or yn:
                assert xn and yn, f"{key}.{col}[{i}]: {x!r} != {y!r} (null mismatch)"
                continue
            assert x == y, f"{key}.{col}[{i}]: {x!r} != {y!r}"


def jobs_in_window(spark, group: str, fn) -> tuple[set[int], set[int]]:
    """(every job ``fn`` submitted, the jobs of ``group``) with ``fn`` run
    under ``group``: one-job sentinels before and after, each in a group
    of its own, bound the window of job ids."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def sentinel(name: str) -> int:
        sc.setJobGroup(f"{group}-{name}", name)
        sc.parallelize([1], 1).count()  # exactly one job
        (job,) = tracker.getJobIdsForGroup(f"{group}-{name}")
        return job

    start = sentinel("start")
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        end = sentinel("end")
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return set(range(start + 1, end)), set(tracker.getJobIdsForGroup(group))
