"""SQLite source: survey .db files without a JDBC driver.

Parity: `dbsurveyor-core/src/adapters/sqlite/*` — schema collection via
`sqlite_master` + `PRAGMA table_info/foreign_key_list/index_list`
(schema_collection.rs:153-430), type mapping (type_mapping.rs), database
metadata via `PRAGMA page_count/page_size/encoding` (connection.rs:119-133),
and sampling.

This module reads metadata only, on the driver through stdlib `sqlite3`.
Rows reach Spark through `sources/sqlite_scale.py`: `read_table_partitioned`
range-scans one table by rowid on the executors, and `read_shards` scans
MANY .db files (the 100 TB shape: millions of shards on shared storage),
each opened on the executor that owns its path.
"""

from __future__ import annotations

import contextlib
import sqlite3
from typing import Any

from .ordering import relational_ordering_strategy

# SQLite declared type → unified type (type_mapping.rs, affinity rules).
_AFFINITY = (
    ("INT", "BIGINT"),
    ("CHAR", "VARCHAR"),
    ("CLOB", "VARCHAR"),
    ("TEXT", "VARCHAR"),
    ("BLOB", "BLOB"),
    ("REAL", "DOUBLE"),
    ("FLOA", "DOUBLE"),
    ("DOUB", "DOUBLE"),
    ("BOOL", "BOOLEAN"),
    ("DATE", "TIMESTAMP"),
    ("TIME", "TIMESTAMP"),
    ("NUMERIC", "DECIMAL"),
    ("DECIMAL", "DECIMAL"),
)


def map_sqlite_type(declared: str | None) -> str:
    """SQLite type-affinity mapping (type_mapping.rs:1)."""
    if not declared:
        return "BLOB"  # no declared type → BLOB affinity
    up = declared.upper()
    for pat, unified in _AFFINITY:
        if pat in up:
            return unified
    return "NUMERIC" if up else "BLOB"


class SqliteSource:
    """One .db file opened read-only."""

    def __init__(self, path: str):
        self.path = path
        self._uri = f"file:{path}?mode=ro"

    def _connect(self) -> sqlite3.Connection:
        # NB: callers wrap in contextlib.closing — sqlite3's `with con:` only
        # manages transactions, not closure, and a multi-table survey opening
        # a fresh connection per call would otherwise leak file handles.
        return sqlite3.connect(self._uri, uri=True)

    def database_info(self) -> dict[str, Any]:
        """PRAGMA-level database metadata (connection.rs:119-133)."""
        with contextlib.closing(self._connect()) as con:
            page_count = con.execute("PRAGMA page_count").fetchone()[0]
            page_size = con.execute("PRAGMA page_size").fetchone()[0]
            encoding = con.execute("PRAGMA encoding").fetchone()[0]
        return {
            "name": self.path.rsplit("/", 1)[-1],
            "size_bytes": page_count * page_size,
            "encoding": encoding,
        }

    def table_names(self) -> list[str]:
        with contextlib.closing(self._connect()) as con:
            rows = con.execute(
                "SELECT name FROM sqlite_master WHERE type = 'table' "
                "AND name NOT LIKE 'sqlite_%' ORDER BY name"
            ).fetchall()
        return [r[0] for r in rows]

    def collect_table_schema(self, table: str) -> dict[str, Any]:
        """Columns, PK, FKs, indexes for one table (schema_collection.rs),
        as a `survey.export.table_entry`."""
        from ..survey.export import table_entry

        with contextlib.closing(self._connect()) as con:
            cols = con.execute(f"PRAGMA table_info({_q(table)})").fetchall()
            fks = con.execute(f"PRAGMA foreign_key_list({_q(table)})").fetchall()
            idxs = con.execute(f"PRAGMA index_list({_q(table)})").fetchall()
            index_cols = {
                idx[1]: [
                    r[2] for r in con.execute(f"PRAGMA index_info({_q(idx[1])})").fetchall()
                ]
                for idx in idxs
            }
            create_sql = (
                con.execute(
                    "SELECT sql FROM sqlite_master "
                    "WHERE type = 'table' AND name = ?",
                    (table,),
                ).fetchone()
                or (None,)
            )[0] or ""
        pk_cols = [c[1] for c in sorted(cols, key=lambda c: c[5]) if c[5] > 0]
        # rowid table unless declared WITHOUT ROWID; a single INTEGER
        # PRIMARY KEY column is SQLite's rowid alias and auto-assigns
        # monotonically — the AutoIncrement analog (models.rs:362).
        has_rowid = "WITHOUT ROWID" not in create_sql.upper()
        rowid_alias = (
            pk_cols[0]
            if has_rowid
            and len(pk_cols) == 1
            and any(
                c[1] == pk_cols[0] and (c[2] or "").upper() == "INTEGER"
                for c in cols
            )
            else None
        )
        columns = [
            {
                "name": c[1],
                "data_type": map_sqlite_type(c[2]),
                # PK columns are implicitly NOT NULL even if PRAGMA says
                # otherwise (schema_collection.rs:263).
                "is_nullable": not c[3] and c[1] not in pk_cols,
                "is_primary_key": c[1] in pk_cols,
                "is_auto_increment": c[1] == rowid_alias,
                "default_value": c[4],
                "comment": None,
                "ordinal_position": i + 1,
            }
            for i, c in enumerate(cols)
        ]
        foreign_keys = [
            {
                "name": f"fk_{table}_{fk[3]}",
                "columns": [fk[3]],
                "referenced_table": fk[2],
                "referenced_columns": [fk[4]],
            }
            for fk in fks
        ]
        # PRAGMA index_list rows: (seq, name, unique, origin, partial);
        # origin 'pk' marks the implicit primary-key index
        # (models.rs:133 Index / :148 IndexColumn shapes).
        indexes = [
            {
                "name": idx[1],
                "table_name": table,
                "schema": None,
                "columns": [
                    {"name": c, "sort_order": "Ascending"}
                    for c in index_cols.get(idx[1], [])
                ],
                "is_unique": bool(idx[2]),
                "is_primary": idx[3] == "pk",
                "index_type": None,
            }
            for idx in idxs
        ]
        return table_entry(
            table,
            columns,
            pk_cols,
            foreign_keys,
            indexes=indexes,
            row_count=self.row_count(table),
            ordering_strategy=relational_ordering_strategy(
                columns, pk_cols, has_rowid=has_rowid
            ),
        )

    def row_count(self, table: str) -> int:
        with contextlib.closing(self._connect()) as con:
            return con.execute(f"SELECT COUNT(*) FROM {_q(table)}").fetchone()[0]

    def survey(self, name: str | None = None) -> dict[str, Any]:
        """Full-file schema document (DatabaseSchema, built by
        `survey.export.schema_document`); the per-table PRAGMA index and
        constraint data flows into the top-level registries like the
        reference document. Metadata only: no samples or quality metrics."""
        import time

        from ..survey.export import schema_document

        t_start = time.monotonic()
        info = self.database_info()
        tables = [self.collect_table_schema(t) for t in self.table_names()]
        return schema_document(
            name or info["name"],
            tables,
            t_start,
            size_bytes=info["size_bytes"],
            encoding=info["encoding"],
            views=self._views(),
            triggers=self._triggers(),
        )

    def _views(self) -> list[dict[str, Any]]:
        with contextlib.closing(self._connect()) as con:
            rows = con.execute(
                "SELECT name, sql FROM sqlite_master WHERE type = 'view'"
            ).fetchall()
        return [{"name": n, "definition": s} for n, s in rows]

    def _triggers(self) -> list[dict[str, Any]]:
        with contextlib.closing(self._connect()) as con:
            rows = con.execute(
                "SELECT name, tbl_name, sql FROM sqlite_master WHERE type = 'trigger'"
            ).fetchall()
        return [{"name": n, "table": t, "definition": s} for n, t, s in rows]


def _q(ident: str) -> str:
    """Quote an identifier for PRAGMA/SELECT (escape_pragma_arg analog)."""
    return '"' + ident.replace('"', '""') + '"'
