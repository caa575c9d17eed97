"""Executor-parallel SQLite reads + LIVE keyset-paged sampling.

Parity: the reference's live-collection surface — schema collection and
bulk sampling against a real database (`dbsurveyor-core/src/adapters/
sqlite/schema_collection.rs`, `postgres/sampling.rs` keyset loop). The
sibling :mod:`.sqlite` module reads one .db driver-side; this module adds
the two distributed shapes its docstring names:

- **Partitioned in-table reads** (`read_table_partitioned`): the Spark
  JDBC ``partitionColumn/lowerBound/upperBound`` pattern re-expressed for
  sqlite — rowid min/max is split into even stride ranges on the driver,
  the ranges become a tiny DataFrame, and `mapInPandas` opens ONE
  read-only connection per task and scans only its range. At 100 TB scale
  this is how a large live table is pulled: N executors × bounded range
  scans, no driver materialization, and the fetch work is Arrow-batched.
- **Many-shard scans** (`read_shards`): the realistic huge-sqlite shape is
  millions of shard files on shared storage. A DataFrame of shard paths
  is mapped so each executor task opens its own shard locally and streams
  the table out. Adding shards scales linearly with executors.
- **Live keyset sampling** (`live_keyset_pages`): the one keyset pager
  (`jdbc_sampling.keyset_pages`, with its page SQL and bounded-backoff
  retries) fed by a read-only sqlite connection per page — resume
  position advances only on success, so a transient failure re-reads the
  same page and can never skip rows.

Both mapInPandas readers require the .db files to be reachable from
executors (local mode: trivially; a real cluster: shared storage) — the
same contract Spark's own binaryFile/JDBC sources carry.
"""

from __future__ import annotations

import contextlib
import sqlite3
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .jdbc_sampling import keyset_pages
from .sqlite import map_sqlite_type

# unified type (sqlite affinity map) → Spark type, for schema inference
# when the caller does not pass an explicit schema.
_SPARK_TYPES = {
    "BIGINT": T.LongType(),
    "VARCHAR": T.StringType(),
    "DOUBLE": T.DoubleType(),
    "BLOB": T.BinaryType(),
    "BOOLEAN": T.BooleanType(),
    "TIMESTAMP": T.StringType(),  # sqlite stores text; callers cast
    "DECIMAL": T.StringType(),  # lossless channel is TEXT; callers cast
    "NUMERIC": T.DoubleType(),
}


def _ro_uri(path: str) -> str:
    """Read-only, immutable open: fixture/lake files are write-once
    (atomic-rename publish), so readers skip sqlite's locking protocol —
    required anyway for concurrent executor-side opens on shared storage."""
    return f"file:{path}?mode=ro&immutable=1"


def _q(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


def table_spark_schema(path: str, table: str) -> T.StructType:
    """Spark schema for a live table via PRAGMA table_info + affinity map."""
    with contextlib.closing(sqlite3.connect(_ro_uri(path), uri=True)) as con:
        cols = con.execute(f"PRAGMA table_info({_q(table)})").fetchall()
    if not cols:
        raise ValueError(f"table {table!r} not found in {path}")
    return T.StructType(
        [
            T.StructField(
                name, _SPARK_TYPES.get(map_sqlite_type(decl), T.StringType())
            )
            for _cid, name, decl, _nn, _dflt, _pk in cols
        ]
    )


def partition_bounds(
    path: str, table: str, num_partitions: int
) -> list[tuple[int, int]]:
    """JDBC-style even stride over [min(rowid), max(rowid)].

    Ranges cover the full span with no gaps/overlap; an empty table yields
    no ranges. Sparse rowids (e.g. an INTEGER PRIMARY KEY with holes) make
    ranges uneven in row count but never wrong — same trade as Spark's
    numeric partitionColumn."""
    if num_partitions < 1:
        raise ValueError("num_partitions must be >= 1")
    with contextlib.closing(sqlite3.connect(_ro_uri(path), uri=True)) as con:
        lo, hi = con.execute(
            f"SELECT MIN(rowid), MAX(rowid) FROM {_q(table)}"
        ).fetchone()
    if lo is None:
        return []
    span = hi - lo + 1
    n = min(num_partitions, span)
    stride, extra = divmod(span, n)
    bounds: list[tuple[int, int]] = []
    start = lo
    for i in range(n):
        width = stride + (1 if i < extra else 0)
        bounds.append((start, start + width - 1))
        start += width
    return bounds


def _row_batches(
    cur: sqlite3.Cursor, names: list[str], batch_rows: int
) -> Iterator["pd.DataFrame"]:  # noqa: F821 - imported in closure
    import pandas as pd

    while True:
        rows = cur.fetchmany(batch_rows)
        if not rows:
            return
        yield pd.DataFrame.from_records(rows, columns=names)


def read_table_partitioned(
    spark: SparkSession,
    path: str,
    table: str,
    num_partitions: int = 8,
    columns: list[str] | None = None,
    schema: T.StructType | str | None = None,
    batch_rows: int = 20_000,
) -> DataFrame:
    """Parallel range-scan of one live table: each task opens its own
    read-only connection and reads only its rowid range.

    The driver runs exactly one tiny query (min/max rowid); all row fetch
    happens on executors in Arrow-batched `mapInPandas`. ``schema`` (or the
    PRAGMA-derived default) must name a subset of the table's columns."""
    if schema is None:
        full = table_spark_schema(path, table)
        fields = (
            [full[c] for c in columns] if columns else list(full.fields)
        )
        schema = T.StructType(fields)
    elif isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = [f.name for f in schema.fields]
    bounds = partition_bounds(path, table, num_partitions)
    if not bounds:
        return spark.createDataFrame([], schema=schema)
    sel = ", ".join(_q(n) for n in names)
    sql = (
        f"SELECT {sel} FROM {_q(table)} WHERE rowid >= ? AND rowid <= ?"
    )
    uri = _ro_uri(path)

    def scan_ranges(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        con = sqlite3.connect(uri, uri=True)
        try:
            for pdf in batches:
                for lo, hi in zip(pdf["lo"], pdf["hi"]):
                    cur = con.execute(sql, (int(lo), int(hi)))
                    yield from _row_batches(cur, names, batch_rows)
        finally:
            con.close()

    bdf = spark.createDataFrame(bounds, "lo bigint, hi bigint").repartition(
        len(bounds)
    )
    return bdf.mapInPandas(scan_ranges, schema=schema)


def read_shards(
    spark: SparkSession,
    shard_paths: list[str],
    table: str,
    schema: T.StructType | str,
    batch_rows: int = 20_000,
) -> DataFrame:
    """Scan one table across MANY shard .db files, one connection per shard,
    opened on the executor that owns the shard's path row.

    This is the 100 TB sqlite shape (millions of write-once shards on
    shared storage): the path list is data, the scan is embarrassingly
    parallel, and no shard's rows ever pass through the driver."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not shard_paths:
        return spark.createDataFrame([], schema=schema)
    names = [f.name for f in schema.fields]
    sel = ", ".join(_q(n) for n in names)
    sql = f"SELECT {sel} FROM {_q(table)}"

    def scan_shards(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        for pdf in batches:
            for p in pdf["path"]:
                con = sqlite3.connect(_ro_uri(str(p)), uri=True)
                try:
                    cur = con.execute(sql)
                    yield from _row_batches(cur, names, batch_rows)
                finally:
                    con.close()

    pdf = spark.createDataFrame(
        [(p,) for p in shard_paths], "path string"
    ).repartition(len(shard_paths))
    return pdf.mapInPandas(scan_shards, schema=schema)


def live_keyset_pages(
    path: str,
    table: str,
    strategy: dict[str, Any] | str,
    connect: Callable[[], sqlite3.Connection] | None = None,
    **paging: Any,
) -> Iterator[list[dict[str, Any]]]:
    """Yield pages of dict rows from a LIVE sqlite table by keyset resume:
    `jdbc_sampling.keyset_pages` (``paging`` takes its keywords) with one
    connection per page fetch. A failed fetch (injected via ``connect`` in
    tests, ``SQLITE_BUSY`` in life) is retried on the same page, so no row
    is ever skipped. ``connect`` exists for fault injection; the default
    opens ``path`` read-only."""
    make_con = connect or (
        lambda: sqlite3.connect(_ro_uri(path), uri=True)
    )

    def fetch_page(sql: str) -> list[dict[str, Any]]:
        con = make_con()
        try:
            con.row_factory = sqlite3.Row
            return [dict(r) for r in con.execute(sql).fetchall()]
        finally:
            con.close()

    return keyset_pages(fetch_page, None, table, strategy, **paging)
