"""Survey export: JSON schema document, Markdown docs, SQL DDL, compressed
parquet outputs.

Parity targets (shapes/behavior, re-built for a lake of parquet tables):

- `dbsurveyor-core/src/models.rs:431 DatabaseSchema` — the portable JSON
  document (`format_version`, `database_info`, `tables[].columns[]`,
  `primary_key`, `foreign_keys`, `collection_metadata`).
- `dbsurveyor/src/output.rs:88 generate_markdown` — Markdown docs with a
  summary block (ours also renders per-table column tables; the reference's
  markdown body is a placeholder).
- `dbsurveyor/src/output.rs:202 generate_sql` — SQL DDL reconstruction
  (ours emits real CREATE TABLE statements from the surveyed schema).
- `dbsurveyor/src/output.rs:243 validate_schema` — document validation.
- `--compress` zstd outputs → parquet + zstd codec (Spark-native column
  compression rather than whole-file zstd framing).

Everything driver-side here operates on *metadata* (schemas, inferred keys)
— tiny. The only cluster work is the one-scan survey of `lakescan.py`.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..security import detect_sensitive_columns, redact_rows
from ..sources.file_lake import discover_tables
from .lakescan import survey_lake
from .qualityconfig import QualityConfig

FORMAT_VERSION = "1.0"
COLLECTOR = "dbsurveyor-spark"

# Spark type → portable unified type name (models.rs UnifiedDataType spirit;
# also used for DDL emission).
_SQL_TYPES = {
    T.LongType: "BIGINT",
    T.IntegerType: "INTEGER",
    T.ShortType: "SMALLINT",
    T.ByteType: "TINYINT",
    T.DoubleType: "DOUBLE",
    T.FloatType: "REAL",
    T.StringType: "VARCHAR",
    T.BooleanType: "BOOLEAN",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMP",
    T.TimestampNTZType: "TIMESTAMP",
    T.BinaryType: "BLOB",
}


def _sql_type(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"{_sql_type(dt.elementType)}[]"
    for cls, name in _SQL_TYPES.items():
        if isinstance(dt, cls):
            return name
    return dt.simpleString().upper()


def schema_document(
    name: str,
    tables: list[dict[str, Any]],
    started: float,
    *,
    size_bytes: int | None = None,
    encoding: str | None = None,
    views: list[dict[str, Any]] | None = None,
    procedures: list[dict[str, Any]] | None = None,
    functions: list[dict[str, Any]] | None = None,
    triggers: list[dict[str, Any]] | None = None,
    samples: list[dict[str, Any]] | None = None,
    quality_metrics: list[dict[str, Any]] | None = None,
    warnings: list[str] | None = None,
) -> dict[str, Any]:
    """The portable DatabaseSchema document (models.rs:431) every collector
    emits. The top-level ``indexes``/``constraints`` registries are the
    flattened per-table entries, as in the reference document; ``started``
    is the collect's `time.monotonic()` start. The collection warnings are
    the source's ``warnings`` followed by the sensitive-column pass over the
    collected column names (adapters/config/sampling.rs:44 warn_sensitive).
    """
    return {
        "format_version": FORMAT_VERSION,
        "database_info": {
            "name": name,
            "version": None,
            "size_bytes": size_bytes,
            "encoding": encoding,
            "is_system_database": False,
            "access_level": "Full",
            "collection_status": "Success",
        },
        "tables": tables,
        "views": views or [],
        "indexes": [ix for t in tables for ix in t["indexes"]],
        "constraints": [c for t in tables for c in t["constraints"]],
        "procedures": procedures or [],
        "functions": functions or [],
        "triggers": triggers or [],
        "custom_types": [],
        "samples": samples,
        "quality_metrics": quality_metrics,
        "collection_metadata": {
            "collector_version": COLLECTOR,
            "collected_at": datetime.now(timezone.utc).isoformat(),
            "collection_duration_ms": int((time.monotonic() - started) * 1000),
            "warnings": (warnings or []) + detect_sensitive_columns(tables),
        },
    }


def table_entry(
    name: str,
    columns: list[dict[str, Any]],
    pk_columns: list[str],
    foreign_keys: list[dict[str, Any]],
    *,
    schema: str | None = None,
    indexes: list[dict[str, Any]] | None = None,
    row_count: int | None = None,
    comment: str | None = None,
    ordering_strategy: Any = None,
) -> dict[str, Any]:
    """One Table of the document (models.rs Table). The PrimaryKey and
    ForeignKey constraints (models.rs:156) are derived from ``pk_columns``
    and ``foreign_keys``. ``indexes`` are the table's physical indexes;
    None means the source has none (a lake table), and then the primary
    key gets the unique index it logically is (models.rs:133)."""
    if indexes is None:
        indexes = []
        if pk_columns:
            indexes.append(
                {
                    "name": f"pk_{name}_idx",
                    "table_name": name,
                    "schema": schema,
                    "columns": [{"name": c, "sort_order": "Ascending"} for c in pk_columns],
                    "is_unique": True,
                    "is_primary": True,
                    "index_type": None,
                }
            )
    keys = [(f"pk_{name}", "PrimaryKey", pk_columns)] if pk_columns else []
    keys += [(fk["name"], "ForeignKey", fk["columns"]) for fk in foreign_keys]
    return {
        "name": name,
        "schema": schema,
        "columns": columns,
        "primary_key": {"name": f"pk_{name}", "columns": pk_columns} if pk_columns else None,
        "foreign_keys": foreign_keys,
        "indexes": indexes,
        "constraints": [
            {
                "name": key_name,
                "table_name": name,
                "schema": schema,
                "constraint_type": kind,
                "columns": cols,
                "check_clause": None,
            }
            for key_name, kind, cols in keys
        ],
        "comment": comment,
        "row_count": row_count,
        "ordering_strategy": ordering_strategy,
    }


def table_sample(
    table: str,
    rows: list[dict[str, Any]],
    limit: int,
    redact_mode: str,
    *,
    schema: str | None = None,
    total_rows: int | None = None,
    ordering_strategy: Any = None,
    status: Any = "Complete",
    warnings: list[str] | None = None,
) -> dict[str, Any]:
    """One TableSample (models.rs:399) of a sample of up to ``limit`` rows.

    The rows are redacted under ``redact_mode`` (security.py) before they
    enter the document. An ``Unordered`` table is sampled at random; any
    other ordering is MostRecent. A complete sample shorter than ``limit``
    gets a warning after the source's own ``warnings``.
    """
    warnings = list(warnings or [])
    if status == "Complete" and len(rows) < limit:
        warnings.append(
            f"table has only {len(rows)} rows, less than requested sample size of {limit}"
        )
    strategy = "Random" if ordering_strategy == "Unordered" else "MostRecent"
    return {
        "table_name": table,
        "schema_name": schema,
        "rows": redact_rows(rows, redact_mode),
        "sample_size": len(rows),
        "total_rows": total_rows,
        "sampling_strategy": {strategy: {"limit": limit}},
        "ordering_strategy": ordering_strategy,
        "collected_at": datetime.now(timezone.utc).isoformat(),
        "warnings": warnings,
        "sample_status": status,
    }


def collect_database_schema(
    spark: SparkSession,
    lake_dir: str,
    name: str = "testdata",
    infer_keys: bool = True,
    *,
    sample: int = 0,
    redact_mode: str = "balanced",
    quality: QualityConfig | None = None,
    throttle_ms: int | None = None,
) -> dict[str, Any]:
    """Build the schema document for every table of a file lake: any
    directory of parquet, csv or JSON-lines tables
    (`sources/file_lake.discover_tables`).

    The whole document comes from ONE scan of the lake
    (`lakescan.survey_lake`): each table is loaded once, one packed
    aggregate gives every row count (and quality pass 1), one value
    shuffle tests every PK/FK candidate when `infer_keys`, one more
    aggregate counts quality pass 2's outliers, and `sample` > 0 takes the
    head of each table in the order of its recorded OrderingStrategy —
    about 55 Spark jobs for the catalog's ten tables, however many facts
    the document records. Key candidates are the catalog's hints, applied
    to whichever hinted tables and columns the lake holds; other tables
    get no keys. `schema_document`,
    `table_entry` and `table_sample` shape the result: an inferred key
    also gets its index and constraint entries, and the samples are
    redacted under `redact_mode` with the table's row count as
    `total_rows`. Each table's `comment` records its storage format; a
    table that fails to load, a mixed-format subdirectory and a renamed
    table whose stem another file holds are named in the warnings.
    """
    t_start = time.monotonic()
    scan = survey_lake(
        spark,
        lake_dir,
        infer_keys=infer_keys,
        sample=sample,
        quality=quality,
        throttle_ms=throttle_ms,
    )
    tables = []
    for tname, df in scan.frames.items():
        pk_cols = scan.primary_keys.get(tname, [])
        columns = [
            {
                "name": f.name,
                "data_type": _sql_type(f.dataType),
                "is_nullable": f.nullable and f.name not in pk_cols,
                "is_primary_key": f.name in pk_cols,
                "is_auto_increment": False,
                "default_value": None,
                "comment": None,
                "ordinal_position": i + 1,
            }
            for i, f in enumerate(df.schema.fields)
        ]
        tables.append(
            table_entry(
                tname,
                columns,
                pk_cols,
                scan.foreign_keys.get(tname, []),
                row_count=scan.row_counts[tname],
                comment=f"format={scan.sources[tname][1]}",
                ordering_strategy=scan.orderings[tname],
            )
        )
    samples = None
    if scan.samples is not None:
        samples = [
            table_sample(
                t,
                rows,
                sample,
                redact_mode,
                total_rows=scan.row_counts[t],
                ordering_strategy=scan.orderings[t],
            )
            for t, rows in scan.samples.items()
        ]
    return schema_document(
        name,
        tables,
        t_start,
        size_bytes=_lake_size([path for path, _ in scan.sources.values()]),
        encoding="UTF-8",
        samples=samples,
        quality_metrics=scan.quality_metrics,
        warnings=scan.warnings,
    )


def enumerate_lake_databases(
    root: str,
    include_system: bool = False,
    exclude: tuple[str, ...] | list[str] = (),
) -> dict[str, str]:
    """Discover surveyable lake databases under a server root — the lake
    analog of the reference's server-wide database enumeration
    (`adapters/postgres/enumeration.rs:76 ListDatabasesOptions`, with
    `SYSTEM_DATABASES` filtered unless `include_system`).

    A "database" is an immediate subdirectory holding at least one table
    that `sources/file_lake.discover_tables` finds (parquet, csv or
    JSON-lines). System databases are the lake's equivalent of
    ``template0``/``template1``: directories whose name starts with ``.``
    or ``_`` (checkpoint dirs, scratch space). Names in ``exclude`` are
    dropped, mirroring ``--exclude-databases``.
    Driver-side directory listing only — no Spark job.
    """
    excluded = {e.strip() for e in exclude if e.strip()}
    found: dict[str, str] = {}
    if not os.path.isdir(root):
        raise ValueError(f"not a directory: {root}")
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if not os.path.isdir(path):
            continue
        if name in excluded:
            continue
        if not include_system and name.startswith((".", "_")):
            continue
        try:
            if discover_tables(path)[0]:
                found[name] = path
        except OSError:
            continue
    return found


def collect_multi_database_schema(
    spark: SparkSession,
    datasets: dict[str, str],
    infer_keys: bool = True,
    throttle_ms: int | None = None,
    databases_filtered: int = 0,
    *,
    sample: int = 0,
    redact_mode: str = "balanced",
    quality: QualityConfig | None = None,
) -> dict[str, Any]:
    """Survey MANY datasets (sf_dirs) in one run — the lake analog of the
    reference's server-wide multi-database collection
    (`adapters/postgres/multi_database.rs:167 MultiDatabaseResult`,
    `:107 DatabaseCollectionResult`, `:133 MultiDatabaseMetadata`).

    ``datasets`` maps database-name → dataset directory; each database is
    collected by `collect_database_schema` with ``sample``,
    ``redact_mode`` and ``quality``. A database that fails is recorded in
    ``failures``, not raised (the reference's default continue-on-error).
    """
    started = datetime.now(timezone.utc)
    t0 = time.monotonic()
    results: list[dict[str, Any]] = []
    failures: list[dict[str, Any]] = []
    for i, (db_name, sf_dir) in enumerate(datasets.items()):
        if throttle_ms and i:
            # reference `--throttle`: fixed delay between per-database
            # operations (collect.rs:72 with_throttle_ms) for low-footprint
            # collection against shared infrastructure
            time.sleep(throttle_ms / 1000.0)
        d0 = time.monotonic()
        try:
            doc = collect_database_schema(
                spark,
                sf_dir,
                name=db_name,
                infer_keys=infer_keys,
                sample=sample,
                redact_mode=redact_mode,
                quality=quality,
                throttle_ms=throttle_ms,
            )
            results.append(
                {
                    "database_name": db_name,
                    "schema": doc,
                    "collection_duration_ms": int((time.monotonic() - d0) * 1000),
                }
            )
        except Exception as exc:
            failures.append(
                {
                    "database_name": db_name,
                    "error_message": str(exc),
                    "is_connection_error": False,
                }
            )
    return {
        "server_info": {"server_type": "parquet-lake", "version": None},
        "databases": results,
        "failures": failures,
        "collection_metadata": {
            "started_at": started.isoformat(),
            "total_duration_ms": int((time.monotonic() - t0) * 1000),
            "databases_discovered": len(datasets) + databases_filtered,
            "databases_filtered": databases_filtered,
            "databases_collected": len(results),
            "databases_failed": len(failures),
            "databases_skipped": 0,
            "max_concurrency": 1,
            "collector_version": COLLECTOR,
            "warnings": [],
        },
    }


def _lake_size(paths: list[str]) -> int:
    total = 0
    for p in paths:
        if os.path.isdir(p):
            # Spark-written tables are directories of part files; getsize on
            # the directory entry itself would misreport the content size.
            for root, _dirs, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        else:
            total += os.path.getsize(p)
    return total


# ----------------------------------------------- reference-format interchange

# SQL type string → UnifiedDataType tagged value (models.rs:1 UnifiedDataType;
# the serde representation enforced by dbsurveyor-core/schemas/
# dbsurveyor-schema-v1.0.json $defs.UnifiedDataType).
_INT_BITS = {"BIGINT": 64, "INTEGER": 32, "SMALLINT": 16, "TINYINT": 8}


def _unified_type(sql_type: Any) -> Any:
    if not isinstance(sql_type, str):
        # already a UnifiedDataType tagged value (document-lake columns
        # come out of sources/documents.py pre-encoded) — pass through
        return sql_type
    t = sql_type.upper()
    if t.endswith("[]"):
        return {"Array": {"element_type": _unified_type(t[:-2])}}
    if t in _INT_BITS:
        return {"Integer": {"bits": _INT_BITS[t], "signed": True}}
    if t == "DOUBLE":
        return {"Float": {"precision": 53}}
    if t == "REAL":
        return {"Float": {"precision": 24}}
    if t == "VARCHAR":
        return {"String": {"max_length": None}}
    if t == "BOOLEAN":
        return "Boolean"
    if t == "DATE":
        return "Date"
    if t == "TIMESTAMP":
        return {"DateTime": {"with_timezone": False}}
    if t == "BLOB":
        return {"Binary": {"max_length": None}}
    return {"Custom": {"type_name": t}}


def to_reference_document(doc: dict[str, Any]) -> dict[str, Any]:
    """Serialize the internal document to the reference's v1.0 interchange
    format — identical structure, with column types re-encoded as
    UnifiedDataType tagged values. The result validates against the
    reference's published JSON Schema (tested in test_sources_export.py),
    so a consumer of dbsurveyor documents can ingest ours unchanged.
    """
    import copy

    out = copy.deepcopy(doc)
    for t in out.get("tables", []):
        for c in t.get("columns", []):
            c["data_type"] = _unified_type(c["data_type"])
    for v in out.get("views", []):
        for c in v.get("columns", []) or []:
            c["data_type"] = _unified_type(c["data_type"])
    info = out.setdefault("database_info", {})
    info.setdefault("access_level", "Full")
    info.setdefault("collection_status", "Success")
    meta = out.setdefault("collection_metadata", {})
    meta.setdefault("collection_duration_ms", 0)
    return out


# ------------------------------------------------------------------ renderers


def _type_display(dt: Any) -> str:
    """Human-readable type for renderers: SQL strings pass through;
    UnifiedDataType tagged values (document-lake columns have no SQL
    string form) render via the Spark DDL mapping."""
    if isinstance(dt, str):
        return dt
    from ..sources.typemap import unified_to_spark_ddl

    return unified_to_spark_ddl(dt)


def to_markdown(doc: dict[str, Any]) -> str:
    """Markdown docs (output.rs:88 shape: header, summary, tables section)."""
    lines = [
        f"# Database Schema: {doc['database_info']['name']}",
        "",
        f"Generated by {doc['collection_metadata']['collector_version']}",
        f"Collection Date: {doc['collection_metadata']['collected_at']}",
        "",
        "## Summary",
        "",
        f"- **Tables**: {len(doc['tables'])}",
        f"- **Views**: {len(doc['views'])}",
        f"- **Indexes**: {len(doc['indexes'])}",
        "",
        "## Tables",
        "",
    ]
    for t in doc["tables"]:
        rc = f" ({t['row_count']:,} rows)" if t["row_count"] is not None else ""
        lines += [f"### {t['name']}{rc}", ""]
        lines += ["| # | Column | Type | Nullable | Key |", "|---|---|---|---|---|"]
        for c in t["columns"]:
            key = "PK" if c["is_primary_key"] else ""
            lines.append(
                f"| {c['ordinal_position']} | {c['name']} | {_type_display(c['data_type'])} "
                f"| {'YES' if c['is_nullable'] else 'NO'} | {key} |"
            )
        for fk in t["foreign_keys"]:
            lines.append(
                f"\n- FK `{', '.join(fk['columns'])}` → "
                f"`{fk['referenced_table']}({', '.join(fk['referenced_columns'])})`"
            )
        lines.append("")
    return "\n".join(lines)


# Per-dialect rewrites over the ANSI type strings _type_display emits.
# The reference's `sql --dialect` flag is declared but ignored
# (dbsurveyor/src/main.rs:209 SqlDialect, output.rs:208 "--dialect is not
# yet implemented"); here it is implemented. Types absent from a map pass
# through unchanged (BIGINT/INTEGER/SMALLINT/DATE are portable).
SQL_DIALECTS = ("generic", "postgresql", "mysql", "sqlite", "sqlserver")

_DIALECT_TYPES: dict[str, dict[str, str]] = {
    "generic": {},
    "postgresql": {
        "DOUBLE": "DOUBLE PRECISION",
        "TINYINT": "SMALLINT",  # no 1-byte int in postgres
        "BLOB": "BYTEA",
        "VARCHAR": "TEXT",  # unbounded text idiom
    },
    "mysql": {
        "REAL": "FLOAT",
        "BOOLEAN": "TINYINT(1)",
        "TIMESTAMP": "DATETIME(6)",  # TIMESTAMP has epoch-range limits
        "VARCHAR": "TEXT",  # VARCHAR requires a length in mysql
        "BLOB": "LONGBLOB",
    },
    "sqlite": {
        # sqlite stores by type AFFINITY; emit the canonical affinity names
        "BIGINT": "INTEGER",
        "SMALLINT": "INTEGER",
        "TINYINT": "INTEGER",
        "DOUBLE": "REAL",
        "BOOLEAN": "INTEGER",
        "VARCHAR": "TEXT",
        "DATE": "TEXT",
        "TIMESTAMP": "TEXT",
    },
    "sqlserver": {
        "DOUBLE": "FLOAT",
        "BOOLEAN": "BIT",
        "TIMESTAMP": "DATETIME2",  # TIMESTAMP means rowversion in T-SQL
        "VARCHAR": "NVARCHAR(MAX)",
        "BLOB": "VARBINARY(MAX)",
    },
}

# Engines without a native array type get a serialized-document column.
_DIALECT_ARRAY = {"mysql": "JSON", "sqlite": "TEXT", "sqlserver": "NVARCHAR(MAX)"}


def _dialect_type(ansi: str, dialect: str) -> str:
    if ansi.endswith("[]"):
        if dialect in _DIALECT_ARRAY:
            return _DIALECT_ARRAY[dialect]
        return _dialect_type(ansi[:-2], dialect) + "[]"
    if ansi.startswith("DECIMAL(") and dialect == "sqlite":
        return "NUMERIC"
    return _DIALECT_TYPES[dialect].get(ansi, ansi)


def to_sql_ddl(doc: dict[str, Any], dialect: str = "generic") -> str:
    """CREATE TABLE reconstruction (output.rs:202 generate_sql), with the
    dialect type mapping the reference declares but leaves unimplemented."""
    if dialect not in _DIALECT_TYPES:
        raise ValueError(
            f"unknown dialect {dialect!r}; expected one of {SQL_DIALECTS}"
        )
    out = [
        f"-- Database Schema: {doc['database_info']['name']}",
        f"-- Generated by {doc['collection_metadata']['collector_version']}",
        f"-- Dialect: {dialect}",
        "",
    ]
    pk_cols_by_table = {
        t["name"]: set(t["primary_key"]["columns"]) if t["primary_key"] else set()
        for t in doc["tables"]
    }
    for t in doc["tables"]:
        cols = [
            f"    {c['name']} {_dialect_type(_type_display(c['data_type']), dialect)}"
            + ("" if c["is_nullable"] else " NOT NULL")
            for c in t["columns"]
        ]
        if t["primary_key"]:
            cols.append(f"    PRIMARY KEY ({', '.join(t['primary_key']['columns'])})")
        notes = []
        for fk in t["foreign_keys"]:
            # ANSI requires the referenced columns be PK/UNIQUE; an inferred
            # FK whose parent key wasn't surveyed as a PK becomes a trailing
            # comment (outside the column list — never breaks the statement).
            if set(fk["referenced_columns"]) != pk_cols_by_table.get(
                fk["referenced_table"], set()
            ):
                notes.append(
                    f"-- unenforced FK on {t['name']}: "
                    f"({', '.join(fk['columns'])}) -> "
                    f"{fk['referenced_table']}({', '.join(fk['referenced_columns'])})"
                )
                continue
            cols.append(
                f"    FOREIGN KEY ({', '.join(fk['columns'])}) REFERENCES "
                f"{fk['referenced_table']} ({', '.join(fk['referenced_columns'])})"
            )
        out.append(f"CREATE TABLE {t['name']} (\n" + ",\n".join(cols) + "\n);")
        out.extend(notes)
        out.append("")
    return "\n".join(out)


def to_mermaid_erd(doc: dict[str, Any]) -> str:
    """Mermaid ER diagram (output.rs:164 generate_mermaid, made real)."""
    lines = ["erDiagram"]
    for t in doc["tables"]:
        lines.append(f"    {t['name']} {{")
        for c in t["columns"]:
            key = " PK" if c["is_primary_key"] else ""
            typ = _type_display(c["data_type"])
            typ = typ.replace("(", "_").replace(")", "").replace(",", "_")
            typ = typ.replace("[]", "_array")
            lines.append(f"        {typ} {c['name']}{key}")
        lines.append("    }")
    for t in doc["tables"]:
        for fk in t["foreign_keys"]:
            lines.append(
                f"    {fk['referenced_table']} ||--o{{ {t['name']} : {fk['columns'][0]}"
            )
    return "\n".join(lines)


# ------------------------------------------------------------------- file IO


ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"  # Zstandard frame magic (RFC 8878)
GZIP_MAGIC = b"\x1f\x8b"


def zstd_available() -> bool:
    """True when some zstd implementation is importable."""
    return _zstd_impl() is not None


def _zstd_impl():
    """(compress, decompress) byte functions from whichever zstd binding is
    present: the `zstandard` package if installed, else pyarrow's bundled
    codec via Compressed{Output,Input}Stream (standard zstd frames — the
    reference's postprocessor detects them by the same frame magic,
    dbsurveyor/src/schema.rs:12). Returns None when neither imports."""
    try:
        import zstandard as zstd

        return (
            lambda data: zstd.ZstdCompressor(level=3).compress(data),
            lambda data: zstd.ZstdDecompressor().decompressobj().decompress(data),
        )
    except ImportError:
        pass
    try:
        import pyarrow as pa

        def _compress(data: bytes) -> bytes:
            sink = pa.BufferOutputStream()
            with pa.CompressedOutputStream(sink, "zstd") as out:
                out.write(data)
            return sink.getvalue().to_pybytes()

        def _decompress(data: bytes) -> bytes:
            with pa.CompressedInputStream(
                pa.BufferReader(data), "zstd"
            ) as inp:
                return inp.read()

        return _compress, _decompress
    except ImportError:  # pragma: no cover - pyarrow is baked in here
        return None


def write_schema_json(
    doc: dict[str, Any],
    path: str,
    passphrase: str | None = None,
    compress: bool = False,
) -> None:
    """Write the `.dbsurveyor.json`-shaped document — optionally encrypted
    (the `.enc` analog; refuses plaintext fallback if crypto is missing) or
    compressed. Compression is whole-file Zstandard framing when a zstd
    binding is importable (`dbsurveyor-collect/src/output.rs:232` frames
    with `zstd::Encoder` level 3; `.json.zst` outputs), gzip otherwise.
    Every envelope writes tmp + os.replace, so a crash never leaves a
    truncated document at the destination."""
    if passphrase is not None:
        from ..security import write_encrypted_json

        write_encrypted_json(doc, path, passphrase)
        return
    tmp = path + ".tmp"
    if compress:
        payload = json.dumps(doc, indent=2, default=str).encode()
        impl = _zstd_impl()
        if impl is not None:
            blob = impl[0](payload)
        else:  # pragma: no cover - pyarrow is baked in here
            import gzip

            blob = gzip.compress(payload)
        with open(tmp, "wb") as fh:
            fh.write(blob)
    else:
        with open(tmp, "w") as fh:
            json.dump(doc, fh, indent=2, default=str)
    os.replace(tmp, path)


def load_schema_json(path: str) -> dict[str, Any]:
    """Load a schema document, transparently decompressing zstd or gzip
    envelopes — detected by FRAME MAGIC, not extension, the same sniff the
    reference's postprocessor applies to payloads (schema.rs:12,179)."""
    with open(path, "rb") as fh:
        head = fh.read(4)
        data = head + fh.read()
    if head.startswith(ZSTD_MAGIC):
        impl = _zstd_impl()
        if impl is None:  # pragma: no cover - pyarrow is baked in here
            raise RuntimeError(
                f"{path} is zstd-compressed but no zstd binding is importable"
            )
        data = impl[1](data)
    elif head.startswith(GZIP_MAGIC):
        import gzip

        data = gzip.decompress(data)
    return json.loads(data)


def validate_schema_doc(doc: dict[str, Any]) -> list[str]:
    """Structural validation (output.rs:243 validate_schema). Returns a list
    of problems; empty list = valid."""
    problems = []
    if doc.get("format_version") != FORMAT_VERSION:
        problems.append(f"unsupported format_version {doc.get('format_version')!r}")
    if not doc.get("database_info", {}).get("name"):
        problems.append("missing database_info.name")
    names = set()
    for t in doc.get("tables", []):
        if t["name"] in names:
            problems.append(f"duplicate table {t['name']!r}")
        names.add(t["name"])
        # a schemaless collection with no documents has no fields to report
        if not t.get("columns") and t.get("row_count") != 0:
            problems.append(f"table {t['name']!r} has no columns")
        positions = [c["ordinal_position"] for c in t.get("columns", [])]
        if positions != list(range(1, len(positions) + 1)):
            problems.append(f"table {t['name']!r} has non-contiguous ordinals")
        table_cols = {c["name"] for c in t.get("columns", [])}
        pk = t.get("primary_key")
        if pk and not set(pk["columns"]) <= table_cols:
            problems.append(f"table {t['name']!r} PK references unknown columns")
    return problems


def object_count(doc: dict[str, Any]) -> int:
    """models.rs DatabaseSchema::object_count analog."""
    return sum(
        len(doc.get(k, []) or [])
        for k in (
            "tables", "views", "indexes", "constraints",
            "procedures", "functions", "triggers", "custom_types",
        )
    )


def write_compressed_parquet(df: DataFrame, path: str, codec: str = "zstd") -> None:
    """Materialize a survey result as zstd-compressed parquet (the
    `--compress` analog; columnar zstd beats whole-file framing for
    re-readability and predicate pushdown)."""
    df.write.mode("overwrite").option("compression", codec).parquet(path)
