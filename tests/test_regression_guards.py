"""Regression guards for review findings: ANSI division safety on degenerate
data, SimHash bit coverage, salted-join restrictions, SQLite null batches.

Degenerate tables are injected through a synthetic sf_dir (the operators
only read the columns they use, so minimal parquet files suffice; events.ts
must be int64 nanos to match the nanosAsLong read path).
"""

from __future__ import annotations

import sqlite3

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def degenerate_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("sfdeg")
    pd.DataFrame(
        {
            "doc_id": pd.Series([1, 2, 3, 4], dtype="int64"),
            "text": ["normal words here", "", "   ", "more normal text"],
        }
    ).to_parquet(d / "documents.parquet")
    # constant `value` column (std=0) and ts as int64 nanos
    pd.DataFrame(
        {
            "event_id": pd.Series(range(10), dtype="int64"),
            "ts": pd.Series(
                [1_600_000_000_000_000_000 + i * 60_000_000_000 for i in range(10)],
                dtype="int64",
            ),
            "user_id": pd.Series([1, 2] * 5, dtype="int64"),
            "event_type": ["click"] * 10,
            "value": pd.Series([5.0] * 10, dtype="float64"),
            "props": ["{}"] * 10,
        }
    ).to_parquet(d / "events.parquet")
    return str(d)


class TestAnsiDivisionGuards:
    def test_text_stats_survives_empty_and_whitespace_docs(self, spark, degenerate_sf):
        from dbsurveyor_spark.operators.textstats import text_stats

        rows = {r.doc_id: r for r in text_stats(spark, degenerate_sf).collect()}
        assert len(rows) == 4  # no DIVIDE_BY_ZERO abort
        assert rows[2].punct_ratio is None and rows[2].quality_score is None
        assert rows[3].stopword_ratio is None  # whitespace-only: 0 tokens
        assert rows[1].quality_score is not None

    def test_anomaly_zscore_skips_constant_column(self, spark, degenerate_sf):
        from dbsurveyor_spark.survey.quality import quality_anomaly_zscore

        # value is constant (std=0): must be SKIPPED, not crash the job
        out = quality_anomaly_zscore(spark, degenerate_sf).collect()
        assert [r.column_name for r in out] == []


class TestSimhashBitCoverage:
    def test_all_48_bits_vary(self, spark):
        """The 48-bit simhash must use its upper bits — a 32-bit base hash
        would leave bits 32..47 constantly zero and collapse band 3 into a
        single corpus-wide O(n²) bucket."""
        from dbsurveyor_spark.functions.hashing import portable_hash48

        df = spark.range(500).select(
            portable_hash48(F.col("id").cast("string")).alias("h")
        )
        got = df.agg(
            F.max(F.shiftright("h", 40)).alias("top_byte"),
            F.count_distinct(F.shiftright("h", 36).bitwiseAND(F.lit(4095))).alias(
                "band3_vals"
            ),
        ).collect()[0]
        assert got.top_byte > 0
        assert got.band3_vals > 100  # band 3 actually distributes


class TestSaltedJoinRestrictions:
    def test_outer_joins_rejected(self, spark):
        from dbsurveyor_spark.plans.scale import salted_join

        left = spark.createDataFrame([(1, "a")], "k bigint, v string")
        right = spark.createDataFrame([(1, "x")], "k bigint, w string")
        for how in ("right", "full", "outer"):
            with pytest.raises(ValueError):
                salted_join(left, right, "k", how=how)


class TestSqliteNullBatches:
    def test_all_null_column_in_one_batch(self, spark, tmp_path):
        from dbsurveyor_spark.sources.sqlite_scale import read_table_partitioned

        path = tmp_path / "nulls.db"
        con = sqlite3.connect(path)
        con.execute("CREATE TABLE t (id INTEGER, maybe TEXT)")
        # first 5 rows all-NULL in `maybe`, typed values later — with
        # per-batch Arrow type inference a batch of 5 used to raise
        con.executemany(
            "INSERT INTO t VALUES (?, ?)",
            [(i, None) for i in range(5)] + [(i, f"v{i}") for i in range(5, 10)],
        )
        con.commit()
        con.close()
        df = read_table_partitioned(spark, str(path), "t", num_partitions=1, batch_rows=5)
        rows = {r.id: r.maybe for r in df.collect()}
        assert rows[0] is None and rows[7] == "v7"
        assert len(rows) == 10


def test_histogram_invariants(spark):
    """Equi-width histogram: per-column bucket counts sum to the table's
    rows, buckets stay within [0, HIST_BUCKETS), and fences tile the
    [min, max] range without gaps."""
    from pyspark.sql import functions as F

    from dbsurveyor_spark.catalog import load_table
    from dbsurveyor_spark.survey.profile import (
        HIST_BUCKETS,
        HIST_COLS,
        survey_numeric_histogram,
    )

    sf = "/root/testdata/sf0.001"
    hist = survey_numeric_histogram(spark, sf).collect()
    n_rows = load_table(spark, sf, "lineitem").count()
    by_col: dict[str, list] = {}
    for r in hist:
        by_col.setdefault(r["column_name"], []).append(r)
    assert set(by_col) == set(HIST_COLS)
    for col, rows in by_col.items():
        assert sum(r["row_count"] for r in rows) == n_rows, col
        assert all(0 <= r["bucket"] < HIST_BUCKETS for r in rows), col
        ordered = sorted(rows, key=lambda r: r["bucket"])
        for a, b in zip(ordered, ordered[1:]):
            if b["bucket"] == a["bucket"] + 1:  # adjacent buckets tile
                assert abs(a["bucket_hi"] - b["bucket_lo"]) < 1e-6, col
