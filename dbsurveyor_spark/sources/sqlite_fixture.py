"""Write-once SQLite fixtures materialized from the parquet lake.

The live-read operators (`operators/dbsource.py`) need a REAL database to
exercise connection handling, type round-trips, rowid partitioning and
keyset paging — this module builds one from the same parquet tables the
DuckDB oracle reads, so a live read that round-trips correctly will
value-hash-match the oracle run on the parquet directly.

Layout/publication contract (same as `plans/index_store`): artifacts are
keyed by the source tables' CONTENT FINGERPRINT — (path, mtime_ns, size)
of every parquet file — built under a pid-suffixed temp name and
atomically renamed into place, so a rewritten lake simply addresses a new
fixture and concurrent builders race benignly (loser's rename finds the
file already present and discards its copy). Readers open with
``mode=ro&immutable=1``, which is sound precisely because published
fixtures are never modified.

Type mapping parquet→sqlite (build side): int64/int32 → INTEGER (sqlite
integers are 8-byte, lossless), double → REAL (IEEE-754 double, lossless),
string → TEXT, binary → BLOB. The table's first column doubles as
``INTEGER PRIMARY KEY`` when it is a unique integer key — that makes it
the rowid (the realistic live-table shape: rowid == pk, sparse where the
pk is sparse) and gives keyset paging its index for free.
"""

from __future__ import annotations

import hashlib
import os
import sqlite3
from typing import Iterable

from .file_lake import table_fingerprint

_FIXTURE_ENV = "DBSURVEYOR_SQLITE_FIXTURE_DIR"


def fixture_root() -> str:
    root = os.environ.get(_FIXTURE_ENV, "").strip()
    if not root:
        repo = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        root = os.path.join(repo, ".fixtures", "sqlite")
    os.makedirs(root, exist_ok=True)
    return root


def _content_fingerprint(sf_dir: str, tables: Iterable[str]) -> str:
    parts = [f for t in tables for f in table_fingerprint(sf_dir, t)]
    return hashlib.sha1(repr(parts).encode("utf-8")).hexdigest()[:16]


def _sqlite_decl(arrow_type) -> str:
    import pyarrow as pa

    if pa.types.is_integer(arrow_type):
        return "INTEGER"
    if pa.types.is_floating(arrow_type):
        return "REAL"
    if pa.types.is_binary(arrow_type) or pa.types.is_large_binary(arrow_type):
        return "BLOB"
    return "TEXT"


def _load_rows(sf_dir: str, table: str) -> tuple[list[str], list[str], list[tuple]]:
    """(column names, sqlite declared types, rows ordered by first column)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))
    names = tbl.schema.names
    decls = [_sqlite_decl(tbl.schema.field(n).type) for n in names]
    cols = [tbl.column(n).to_pylist() for n in names]
    rows = sorted(zip(*cols), key=lambda r: (r[0] is None, r[0]))
    return list(names), decls, rows


def _write_db(
    dest_tmp: str, sf_dir: str, tables: Iterable[str]
) -> None:
    con = sqlite3.connect(dest_tmp)
    try:
        # fixture-only speed knobs: the file is discarded on any failure
        con.execute("PRAGMA journal_mode=MEMORY")
        con.execute("PRAGMA synchronous=OFF")
        for t in tables:
            names, decls, rows = _load_rows(sf_dir, t)
            # unique-int first column → INTEGER PRIMARY KEY (== rowid)
            first = [r[0] for r in rows]
            pk_ok = (
                decls[0] == "INTEGER"
                and all(v is not None for v in first)
                and len(set(first)) == len(first)
            )
            col_ddl = ", ".join(
                f'"{n}" {d}{" PRIMARY KEY" if i == 0 and pk_ok else ""}'
                for i, (n, d) in enumerate(zip(names, decls))
            )
            con.execute(f'CREATE TABLE "{t}" ({col_ddl})')
            ph = ", ".join("?" for _ in names)
            con.executemany(f'INSERT INTO "{t}" VALUES ({ph})', rows)
        con.commit()
    finally:
        con.close()


def ensure_sqlite_db(sf_dir: str, tables: tuple[str, ...]) -> str:
    """Build (once) and return the fixture .db holding ``tables``."""
    fp = _content_fingerprint(sf_dir, tables)
    dest = os.path.join(
        fixture_root(), f"lake_{'_'.join(tables)}_{fp}.db"
    )
    if os.path.exists(dest):
        return dest
    tmp = f"{dest}.tmp-{os.getpid()}"
    try:
        _write_db(tmp, sf_dir, tables)
        if os.path.exists(dest):  # lost a benign build race
            os.remove(tmp)
        else:
            os.replace(tmp, dest)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return dest


def ensure_sqlite_shards(
    sf_dir: str, table: str, n_shards: int
) -> list[str]:
    """Build (once) ``table`` split into ``n_shards`` .db files by
    ``pk % n_shards`` and return the shard paths; a ``_SUCCESS`` marker
    publishes the directory atomically enough for write-once consumers."""
    fp = _content_fingerprint(sf_dir, (table,))
    dest = os.path.join(
        fixture_root(), f"shards_{table}_{n_shards}_{fp}"
    )
    paths = [
        os.path.join(dest, f"shard_{i:03d}.db") for i in range(n_shards)
    ]
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return paths
    tmp = f"{dest}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    names, decls, rows = _load_rows(sf_dir, table)
    col_ddl = ", ".join(f'"{n}" {d}' for n, d in zip(names, decls))
    ph = ", ".join("?" for _ in names)
    for i in range(n_shards):
        con = sqlite3.connect(os.path.join(tmp, f"shard_{i:03d}.db"))
        try:
            con.execute("PRAGMA journal_mode=MEMORY")
            con.execute("PRAGMA synchronous=OFF")
            con.execute(f'CREATE TABLE "{table}" ({col_ddl})')
            con.executemany(
                f'INSERT INTO "{table}" VALUES ({ph})',
                [r for r in rows if int(r[0]) % n_shards == i],
            )
            con.commit()
        finally:
            con.close()
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        f.write("")
    import shutil

    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        # a torn dest (no _SUCCESS) blocks the rename — clear it first
        if os.path.isdir(dest):
            shutil.rmtree(dest, ignore_errors=True)
        os.replace(tmp, dest)
    return paths
