"""The survey's approximate-distinct kernel (functions.aggregates.approx_distinct).

Pass 1 of ``collect_quality_metrics`` and ``column_profile_approx`` estimate
distinct counts with a DataSketches HLL sketch. These tests pin its accuracy
against exact counts, the document's edge cases, and that no HyperLogLog++
aggregate is planned any more.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbsurveyor_spark.catalog import TABLES, load_table
from dbsurveyor_spark.survey.profile import PROFILE_TABLE, survey_profile_approx
from dbsurveyor_spark.survey.quality import _quality_pass1, collect_quality_metrics

from .conftest import SF_SMALL

TESTDATA = os.path.dirname(SF_SMALL)

RSD = 0.02
# the name HyperLogLogPlusPlus prints under in a physical plan
HLLPP = "approx_count_distinct"


def _exact_distinct(df) -> dict[str, int]:
    """Exact distinct non-null count per column, plus ``__row`` distinct rows."""
    r = df.agg(*[F.count_distinct(F.col(c)).alias(c) for c in df.columns]).first()
    return {**r.asDict(), "__row": df.distinct().count()}


def _within(estimate: int, exact: int) -> bool:
    return abs(estimate - exact) <= 3 * RSD * exact


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("table", TABLES)
def test_pass1_estimates_within_noise_floor(spark, sf, table):
    df = load_table(spark, os.path.join(TESTDATA, sf), table)
    est = _quality_pass1(df, [], RSD).first()
    exact = _exact_distinct(df)
    assert _within(est["__row_distinct"], exact["__row"]), (
        est["__row_distinct"], exact["__row"],
    )
    for c in df.columns:
        assert _within(est[f"{c}__distinct"], exact[c]), (
            c, est[f"{c}__distinct"], exact[c],
        )


def test_profile_approx_within_noise_floor(spark):
    got = {
        r["column_name"]: r["approx_distinct_count"]
        for r in survey_profile_approx(spark, SF_SMALL).collect()
    }
    exact = _exact_distinct(load_table(spark, SF_SMALL, PROFILE_TABLE))
    assert set(got) == set(exact) - {"__row"}
    for c, n in got.items():
        assert _within(n, exact[c]), (c, n, exact[c])


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pass1_plans_no_hyperloglogplusplus(spark):
    # a narrow table keeps every aggregate inside the plan's printed fields
    df = load_table(spark, SF_SMALL, "region")
    plan = _physical_plan(_quality_pass1(df, ["r_regionkey"], RSD))
    assert HLLPP not in plan
    assert "hll_sketch_agg" in plan
    # the guard can see HyperLogLog++ when it is there
    assert HLLPP in _physical_plan(df.agg(F.approx_count_distinct("r_name")))


class TestDocumentEdgeCases:
    def _lake(self, spark, tmp_path, rows, schema):
        lake = str(tmp_path / "lake")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{lake}/orders.parquet"
        )
        return lake

    def test_zero_row_table(self, spark, tmp_path):
        lake = self._lake(
            spark, tmp_path, [], "o_orderkey bigint, o_totalprice double"
        )
        (m,) = collect_quality_metrics(spark, lake, ["orders"])
        assert m["analyzed_rows"] == 0
        assert m["completeness"] == {"score": 1.0, "null_columns": []}
        assert m["uniqueness"] == {
            "score": 1.0,
            "duplicate_columns": [],
            "duplicate_row_count": 0,
        }
        assert m["anomalies"] == {"outlier_count": 0, "outliers": []}
        assert m["quality_score"] == 1.0

    def test_all_null_column(self, spark, tmp_path):
        rows = [(i, None) for i in range(30)]
        lake = self._lake(spark, tmp_path, rows, "o_orderkey bigint, o_comment string")
        df = load_table(spark, lake, "orders")
        assert _quality_pass1(df, [], RSD).first()["o_comment__distinct"] == 0
        (m,) = collect_quality_metrics(spark, lake, ["orders"])
        assert m["completeness"]["null_columns"] == [
            {"column_name": "o_comment", "null_count": 30, "null_ratio": 1.0}
        ]
        # every null is one shared value: 1 unique of 30
        (dup,) = m["uniqueness"]["duplicate_columns"]
        assert (dup["column_name"], dup["unique_count"]) == ("o_comment", 1)

    def test_repeated_rows_are_duplicates(self, spark, tmp_path):
        rows = [(i % 40, f"v{i % 40}") for i in range(120)]
        lake = self._lake(spark, tmp_path, rows, "o_orderkey bigint, o_comment string")
        (m,) = collect_quality_metrics(spark, lake, ["orders"])
        assert m["analyzed_rows"] == 120
        assert m["uniqueness"]["duplicate_row_count"] > 0
        assert abs(m["uniqueness"]["duplicate_row_count"] - 80) <= 3 * RSD * 120
