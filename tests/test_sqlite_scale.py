"""Live-SQLite scale paths: partitioned range reads, shard scans, keyset
paging with fault injection, and the write-once fixture contract.

These are the executor-parallel / live-connection shapes of the collect
surface (SURVEY §2.A tail); the registry-level oracle gate for the three
`source_sqlite_*` ops runs in the full drive — here we pin the module
semantics that gate can't see: boundary coverage, retry resume, shard
routing, fixture addressing.
"""

from __future__ import annotations

import os
import sqlite3

import pytest

from dbsurveyor_spark.sources.sqlite_fixture import (
    ensure_sqlite_db,
    ensure_sqlite_shards,
)
from dbsurveyor_spark.sources.sqlite_scale import (
    live_keyset_pages,
    partition_bounds,
    read_shards,
    read_table_partitioned,
    table_spark_schema,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lake_db() -> str:
    return ensure_sqlite_db(SF, ("supplier", "nation", "orders"))


# ---------------------------------------------------------------- bounds


def test_partition_bounds_cover_span_exactly(lake_db):
    bounds = partition_bounds(lake_db, "orders", 8)
    con = sqlite3.connect(lake_db)
    lo, hi = con.execute("SELECT MIN(rowid), MAX(rowid) FROM orders").fetchone()
    con.close()
    assert bounds[0][0] == lo and bounds[-1][1] == hi
    # contiguous, no gaps or overlaps
    for (a_lo, a_hi), (b_lo, _) in zip(bounds, bounds[1:]):
        assert b_lo == a_hi + 1
        assert a_hi >= a_lo


def test_partition_bounds_more_partitions_than_rows(tmp_path):
    db = str(tmp_path / "tiny.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INTEGER PRIMARY KEY)")
    con.executemany("INSERT INTO t VALUES (?)", [(1,), (2,), (3,)])
    con.commit()
    con.close()
    bounds = partition_bounds(db, "t", 16)
    assert len(bounds) == 3  # clamped to the rowid span
    assert bounds == [(1, 1), (2, 2), (3, 3)]


def test_partition_bounds_empty_table(tmp_path):
    db = str(tmp_path / "empty.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INTEGER PRIMARY KEY)")
    con.commit()
    con.close()
    assert partition_bounds(db, "t", 4) == []


# ------------------------------------------------- partitioned live read


def test_partitioned_read_matches_parquet(spark, lake_db):
    live = read_table_partitioned(
        spark,
        lake_db,
        "supplier",
        num_partitions=5,
        schema="s_suppkey bigint, s_acctbal double",
    )
    ref = spark.read.parquet(os.path.join(SF, "supplier.parquet")).select(
        "s_suppkey", "s_acctbal"
    )
    a = sorted(live.collect())
    b = sorted(ref.collect())
    assert a == b


def test_partitioned_read_sparse_rowids(spark, tmp_path):
    # rowid == pk with large holes: ranges are uneven but never lossy
    db = str(tmp_path / "sparse.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT)")
    keys = [1, 2, 1000, 5000, 5001, 90000]
    con.executemany("INSERT INTO t VALUES (?, ?)", [(k, f"v{k}") for k in keys])
    con.commit()
    con.close()
    out = read_table_partitioned(
        spark, db, "t", num_partitions=4, schema="k bigint, v string"
    )
    assert sorted(r.k for r in out.collect()) == keys


def test_schema_inference_and_column_subset(spark, lake_db):
    inferred = table_spark_schema(lake_db, "nation")
    names = [f.name for f in inferred.fields]
    assert names == ["n_nationkey", "n_name", "n_regionkey"]
    out = read_table_partitioned(
        spark, lake_db, "nation", num_partitions=1, columns=["n_name"]
    )
    assert out.columns == ["n_name"]
    assert out.count() == 25


def test_table_spark_schema_missing_table(lake_db):
    with pytest.raises(ValueError, match="not found"):
        table_spark_schema(lake_db, "no_such_table")


# ---------------------------------------------------------- shard scans


def test_shard_scan_union_is_exact(spark):
    paths = ensure_sqlite_shards(SF, "customer", 4)
    assert all(os.path.exists(p) for p in paths)
    live = read_shards(
        spark, paths, "customer", "c_custkey bigint, c_acctbal double"
    )
    ref = spark.read.parquet(os.path.join(SF, "customer.parquet")).select(
        "c_custkey", "c_acctbal"
    )
    assert sorted(live.collect()) == sorted(ref.collect())


def test_shard_routing_is_mod_pk(spark):
    paths = ensure_sqlite_shards(SF, "customer", 4)
    for i, p in enumerate(paths):
        con = sqlite3.connect(p)
        bad = con.execute(
            "SELECT COUNT(*) FROM customer WHERE c_custkey % 4 != ?", (i,)
        ).fetchone()[0]
        con.close()
        assert bad == 0


# -------------------------------------------------------- keyset paging


def test_keyset_pages_concatenate_losslessly(lake_db):
    strategy = {"PrimaryKey": {"columns": ["o_orderkey"]}}
    keys: list[int] = []
    for page in live_keyset_pages(lake_db, "orders", strategy, page_size=700):
        assert len(page) <= 700
        keys.extend(r["o_orderkey"] for r in page)
    con = sqlite3.connect(lake_db)
    ref = [r[0] for r in con.execute("SELECT o_orderkey FROM orders ORDER BY 1")]
    con.close()
    assert keys == ref  # ordered, no dup, no skip


def test_keyset_resume_survives_transient_failures(lake_db):
    """A connection that fails on first use of every page must not skip or
    duplicate rows: resume position advances only on success."""
    strategy = {"PrimaryKey": {"columns": ["o_orderkey"]}}
    calls = {"n": 0}

    def flaky_connect() -> sqlite3.Connection:
        calls["n"] += 1
        if calls["n"] % 2 == 1:  # every first attempt per page fails
            raise sqlite3.OperationalError("database is locked")
        return sqlite3.connect(f"file:{lake_db}?mode=ro&immutable=1", uri=True)

    keys = [
        r["o_orderkey"]
        for page in live_keyset_pages(
            lake_db,
            "orders",
            strategy,
            page_size=900,
            connect=flaky_connect,
            sleep=lambda _s: None,
        )
        for r in page
    ]
    con = sqlite3.connect(lake_db)
    ref = [r[0] for r in con.execute("SELECT o_orderkey FROM orders ORDER BY 1")]
    con.close()
    assert keys == ref
    assert calls["n"] >= 2 * (len(ref) // 900)


def test_keyset_retries_exhaust(lake_db):
    def always_down() -> sqlite3.Connection:
        raise sqlite3.OperationalError("down")

    strategy = {"PrimaryKey": {"columns": ["o_orderkey"]}}
    with pytest.raises(sqlite3.OperationalError):
        list(
            live_keyset_pages(
                lake_db,
                "orders",
                strategy,
                page_size=100,
                retries=2,
                connect=always_down,
                sleep=lambda _s: None,
            )
        )


def test_keyset_max_pages_bounds_the_stream(lake_db):
    strategy = {"PrimaryKey": {"columns": ["o_orderkey"]}}
    pages = list(
        live_keyset_pages(lake_db, "orders", strategy, page_size=10, max_pages=3)
    )
    assert len(pages) == 3
    assert all(len(p) == 10 for p in pages)


# ------------------------------------------------------ fixture contract


def test_fixture_is_content_addressed_and_reused(lake_db):
    again = ensure_sqlite_db(SF, ("supplier", "nation", "orders"))
    assert again == lake_db  # same content fingerprint → same artifact


def test_fixture_fingerprint_follows_the_source_files(tmp_path):
    """The fixture key changes when a source file appears, changes or
    disappears, so a rewritten lake never reads a stale fixture."""
    from dbsurveyor_spark.sources.sqlite_fixture import _content_fingerprint

    src = tmp_path / "t.parquet"

    def fp():
        return _content_fingerprint(str(tmp_path), ("t",))

    absent = fp()
    src.write_bytes(b"v1")
    first = fp()
    src.write_bytes(b"v2 longer")
    changed = fp()
    src.unlink()
    assert len({absent, first, changed}) == 3
    assert fp() == absent


def test_schema_survey_fields(spark):
    from dbsurveyor_spark.operators.dbsource import (
        SCHEMA_TABLES,
        source_sqlite_schema_survey,
    )

    rows = source_sqlite_schema_survey(spark, SF).collect()
    by_table: dict[str, list] = {}
    for r in rows:
        by_table.setdefault(r.table_name, []).append(r)
    assert set(by_table) == {t for t, _pk in SCHEMA_TABLES}
    for t, pk in SCHEMA_TABLES:
        cols = sorted(by_table[t], key=lambda r: r.ordinal)
        # PK promotion: exactly the first column, named as the static lake
        # fact says, non-nullable; everything else nullable
        assert [r.is_pk for r in cols] == [True] + [False] * (len(cols) - 1)
        assert cols[0].column_name == pk
        assert [r.is_nullable for r in cols] == [False] + [True] * (
            len(cols) - 1
        )
        # live count equals the parquet truth
        n = spark.read.parquet(os.path.join(SF, f"{t}.parquet")).count()
        assert all(r.n_rows == n for r in cols)


def test_fixture_pk_becomes_rowid(lake_db):
    # first unique-int column is INTEGER PRIMARY KEY == rowid, so range
    # partitioning strides the real key space
    con = sqlite3.connect(lake_db)
    n = con.execute(
        "SELECT COUNT(*) FROM orders WHERE rowid != o_orderkey"
    ).fetchone()[0]
    con.close()
    assert n == 0
