"""OrderingStrategy: its one reader, and its detection for relational
collectors.

`order_columns` is the only code that unpacks the tagged strategy value;
every sampler and pager (JDBC, SQLite, the lake, `docs:`) orders by it.

Reference: `dbsurveyor-core/src/models.rs:362` ``OrderingStrategy``
(AutoIncrement / PrimaryKey / Timestamp / SystemRowId / Unordered). The
precedence matches `adapters/postgres/sampling.rs:336
detect_ordering_from_columns` (and sqlite/sampling.rs:25) EXACTLY:

1. Primary key columns (the strongest *unique* monotone proxy — required
   for safe keyset paging; see `jdbc_sampling.keyset_page_sql`),
2. a temporal column whose lowercased name EXACTLY matches the shared
   well-known list (`helpers.rs:76 TIMESTAMP_COLUMN_NAMES`),
3. a temporal column whose name CONTAINS created/inserted/timestamp
   (the reference's partial-pattern pass),
4. an auto-increment/serial column,
5. (SQLite rowid tables only) the implicit system rowid,
6. Unordered.

There is deliberately NO "first temporal column by ordinal" fallback: an
arbitrary date column (e.g. ``expiry_date``) does not correlate with
insertion order, and serializing it as Timestamp would order "most recent"
samples on a meaningless axis (ADVICE r5).
"""

from __future__ import annotations

from typing import Any


def order_columns(strategy: dict[str, Any] | str | None) -> list[str]:
    """The columns a sample or a page of the table orders by: the
    PrimaryKey columns, the Timestamp / AutoIncrement / SystemRowId column,
    or ``[]`` for ``Unordered`` (models.rs:362's tagged serde value)."""
    if not isinstance(strategy, dict):
        return []
    ((tag, body),) = strategy.items()
    return list(body["columns"]) if tag == "PrimaryKey" else [body["column"]]


# adapters/helpers.rs:76 TIMESTAMP_COLUMN_NAMES — the relational exact-match
# list (the document-lake analog keeps its own camelCase list in
# documents.TIMESTAMP_FIELD_NAMES, mirroring sampling.rs:22).
TIMESTAMP_COLUMN_NAMES = (
    "created_at",
    "updated_at",
    "modified_at",
    "inserted_at",
    "timestamp",
    "created",
    "updated",
    "modified",
    "date_created",
    "date_updated",
    "date_modified",
    "createdat",
    "updatedat",
    "modifiedat",
    "creation_time",
    "modification_time",
    "update_time",
    "create_time",
)

_PARTIAL_PATTERNS = ("created", "inserted", "timestamp")


def _is_temporal(col: dict[str, Any]) -> bool:
    ut = col.get("unified_type")
    if isinstance(ut, dict) and ("DateTime" in ut or "Time" in ut):
        return True
    if ut == "Date":
        return True
    dt = str(col.get("data_type") or "").upper()
    return any(k in dt for k in ("TIMESTAMP", "DATETIME", "DATE"))


def relational_ordering_strategy(
    columns: list[dict[str, Any]],
    pk_cols: list[str],
    has_rowid: bool = False,
) -> dict[str, Any] | str:
    """Detect the table's OrderingStrategy from collected column metadata.

    ``columns`` are document-shaped column dicts (name / data_type /
    unified_type / is_auto_increment); ``has_rowid`` is the SQLite
    rowid-table flag (always False for server engines, whose system row
    ids are not stable orderings).
    """
    if pk_cols:
        return {"PrimaryKey": {"columns": list(pk_cols)}}
    temporal = [c for c in columns if _is_temporal(c)]
    for c in temporal:
        if c["name"].lower() in TIMESTAMP_COLUMN_NAMES:
            return {
                "Timestamp": {"column": c["name"], "direction": "Descending"}
            }
    for c in temporal:
        lower = c["name"].lower()
        if any(p in lower for p in _PARTIAL_PATTERNS):
            return {
                "Timestamp": {"column": c["name"], "direction": "Descending"}
            }
    autos = [c for c in columns if c.get("is_auto_increment")]
    if autos:
        first = min(autos, key=lambda c: c.get("ordinal_position") or 0)
        return {"AutoIncrement": {"column": first["name"]}}
    if has_rowid:
        return {"SystemRowId": {"column": "rowid"}}
    return "Unordered"
