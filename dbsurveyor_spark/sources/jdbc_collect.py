"""Live-relational collection: catalog sweep → schema document.

Composes the pinned catalog SQL (`catalog_sql.py`) with the unified type
mapper (`typemap.py`) into the reference's DatabaseSchema document —
the Spark analog of `adapters/postgres/schema_collection.rs`'s collect
loop. The sweep runs each catalog query through a `read_query` callable
(a `JdbcSource.read_query` partial against a live database; a stub frame
provider in tests), so the assembly logic is fully unit-tested even though
no live server exists in this container.

Every catalog result is metadata-scale; `.collect()` here is the same
driver-side document assembly the export layer already does for lakes.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame

from .catalog_sql import catalog_queries
from .jdbc_sampling import collect_jdbc_samples
from .ordering import relational_ordering_strategy
from .typemap import map_mysql_type, map_postgres_type, unified_to_spark_ddl

ReadQuery = Callable[[str], DataFrame]


def _rows(df: DataFrame) -> list[dict[str, Any]]:
    return [r.asDict() for r in df.collect()]


def _map_column_type(engine: str, c: dict[str, Any]) -> Any:
    if engine == "mysql":
        # Map from the BARE information_schema DATA_TYPE ('varchar', 'int',
        # …), not COLUMN_TYPE ('varchar(255)', 'int(11) unsigned'): the
        # mapper matches base names, so parameterized engine types would
        # all fall through to Custom/STRING. COLUMN_TYPE contributes only
        # the modifiers it alone carries — the 'unsigned' suffix and the
        # TINYINT(1)-means-boolean display width — mirroring the reference
        # adapter (mysql/schema_collection.rs:326-335).
        engine_type = (c.get("engine_type") or "").lower()
        base = (c.get("data_type") or engine_type).lower()
        if "unsigned" in engine_type and "unsigned" not in base:
            base += " unsigned"
        char_max = c.get("character_maximum_length")
        if base.startswith("tinyint") and engine_type.startswith("tinyint(1)"):
            char_max = 1
        return map_mysql_type(
            base,
            char_max_length=char_max,
            numeric_precision=c.get("numeric_precision"),
            numeric_scale=c.get("numeric_scale"),
        )
    return map_postgres_type(
        c["data_type"],
        udt_name=c.get("engine_type") or "",
        char_max_length=c.get("character_maximum_length"),
        numeric_precision=c.get("numeric_precision"),
        numeric_scale=c.get("numeric_scale"),
    )


def collect_jdbc_schema(
    read_query: ReadQuery,
    engine: str,
    name: str = "jdbc",
    sample_size: int = 0,
    throttle_ms: int = 0,
    redact_mode: str = "balanced",
) -> dict[str, Any]:
    """Run the full catalog sweep and assemble the schema document
    (`survey.export.schema_document`/`table_entry`). ``sample_size > 0``
    additionally pulls ordering-aware per-table samples
    (jdbc_sampling.collect_jdbc_samples, throttled between tables), their
    rows redacted under ``redact_mode``."""
    import time

    from ..survey.export import schema_document, table_entry

    t_start = time.monotonic()
    qs = catalog_queries(engine)
    raw = {section: _rows(read_query(sql)) for section, sql in qs.items()}

    pk_cols: dict[tuple, list] = {}
    for r in raw["primary_keys"]:
        pk_cols.setdefault((r["schema_name"], r["table_name"]), []).append(
            r["column_name"]
        )
    fks: dict[tuple, dict[str, dict]] = {}
    for r in raw["foreign_keys"]:
        key = (r["schema_name"], r["table_name"])
        fk = fks.setdefault(key, {}).setdefault(
            r["constraint_name"],
            {
                "name": r["constraint_name"],
                "columns": [],
                "referenced_schema": r.get("referenced_schema_name"),
                "referenced_table": r["referenced_table_name"],
                "referenced_columns": [],
            },
        )
        fk["columns"].append(r["column_name"])
        fk["referenced_columns"].append(r["referenced_column_name"])
    indexes: dict[tuple, dict[str, dict]] = {}
    for r in raw["indexes"]:
        key = (r["schema_name"], r["table_name"])
        ix = indexes.setdefault(key, {}).setdefault(
            r["index_name"],
            {
                "name": r["index_name"],
                "table_name": r["table_name"],
                "schema": r["schema_name"],
                "columns": [],
                "is_unique": bool(r["is_unique"]),
                "is_primary": bool(r["is_primary"]),
                "index_type": r.get("index_type"),
            },
        )
        ix["columns"].append(
            {"name": r["column_name"], "sort_order": "Ascending"}
        )
    cols_by_table: dict[tuple, list[dict]] = {}
    for c in raw["columns"]:
        cols_by_table.setdefault(
            (c["schema_name"], c["table_name"]), []
        ).append(c)

    tables = []
    for t in raw["tables"]:
        key = (t["schema_name"], t["table_name"])
        pk = pk_cols.get(key, [])
        columns = [
            {
                "name": c["column_name"],
                "data_type": unified_to_spark_ddl(_map_column_type(engine, c)),
                "unified_type": _map_column_type(engine, c),
                "is_nullable": (
                    str(c.get("is_nullable", "YES")).upper() == "YES"
                    and c["column_name"] not in pk
                ),
                "is_primary_key": c["column_name"] in pk,
                "is_auto_increment": bool(c.get("is_auto_increment")),
                "default_value": c.get("column_default"),
                "comment": None,
                "ordinal_position": c["ordinal_position"],
            }
            for c in cols_by_table.get(key, [])
        ]
        tables.append(
            table_entry(
                t["table_name"],
                columns,
                pk,
                list(fks.get(key, {}).values()),
                schema=t["schema_name"],
                indexes=list(indexes.get(key, {}).values()),
                row_count=t.get("approx_rows"),
                ordering_strategy=relational_ordering_strategy(columns, pk),
            )
        )

    views = [
        {
            "name": v["view_name"],
            "schema": v["schema_name"],
            "definition": v.get("view_definition"),
            "comment": None,
        }
        for v in raw["views"]
    ]
    procedures = [
        {
            "name": r["routine_name"],
            "schema": r["schema_name"],
            "language": r.get("language"),
            "return_type": r.get("return_type"),
            "definition": r.get("routine_definition"),
        }
        for r in raw["routines"]
        if (r.get("routine_type") or "").upper() == "PROCEDURE"
    ]
    functions = [
        {
            "name": r["routine_name"],
            "schema": r["schema_name"],
            "language": r.get("language"),
            "return_type": r.get("return_type"),
            "definition": r.get("routine_definition"),
        }
        for r in raw["routines"]
        if (r.get("routine_type") or "").upper() != "PROCEDURE"
    ]
    triggers = [
        {
            "name": r["trigger_name"],
            "schema": r["schema_name"],
            "table_name": r["table_name"],
            "event": r["event"],
            "timing": r["timing"],
            "definition": r.get("action_statement"),
        }
        for r in raw["triggers"]
    ]

    return schema_document(
        name,
        tables,
        t_start,
        views=views,
        procedures=procedures,
        functions=functions,
        triggers=triggers,
        samples=(
            collect_jdbc_samples(
                read_query,
                tables,
                sample_size=sample_size,
                throttle_ms=throttle_ms,
                engine=engine,
                redact_mode=redact_mode,
            )
            if sample_size > 0
            else None
        ),
    )
