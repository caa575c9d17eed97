"""Tables of a file lake: ANY directory of parquet / CSV / JSON-lines files.

Reference parity: the collect surface (`adapters/*` schema collection)
pointed at loose files, the "survey this export directory" case a
lake-side collector must handle. Table discovery is by extension (a
single-format subdirectory counts as one partitioned table, matching how
Spark writes datasets); schemas come from parquet footers or one
inference pass for csv/jsonl (`sources/files.py` readers: PERMISSIVE +
explicit corrupt-record column). The survey itself is the one-scan lake
collect (`survey/lakescan.py`, `survey/export.collect_database_schema`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# extension → reader format; json variants are read as JSON-lines (the
# interchange format data pipelines actually emit)
SUPPORTED_EXTENSIONS = {
    ".parquet": "parquet",
    ".csv": "csv",
    ".jsonl": "jsonl",
    ".ndjson": "jsonl",
    ".json": "jsonl",
}


def _entry_format(path: str) -> str | None:
    ext = os.path.splitext(path)[1].lower()
    return SUPPORTED_EXTENSIONS.get(ext)


def discover_tables(lake_dir: str) -> dict[str, tuple[str, str]]:
    """{table_name: (path, format)} for every surveyable entry.

    Files map by stem; a subdirectory whose data files share one supported
    extension maps as a single (partitioned) table, named by its stem too
    (Spark writes `orders.parquet/` as a directory of part files).
    Mixed-format or empty directories are skipped — a collector reports
    what it can read and leaves the rest to the warnings channel.
    """
    out: dict[str, tuple[str, str]] = {}
    if not os.path.isdir(lake_dir):
        raise ValueError(f"not a directory: {lake_dir}")
    for entry in sorted(os.listdir(lake_dir)):
        full = os.path.join(lake_dir, entry)
        if os.path.isfile(full):
            fmt = _entry_format(entry)
            if fmt:
                out[os.path.splitext(entry)[0]] = (full, fmt)
        elif os.path.isdir(full):
            fmts = {
                _entry_format(f)
                for _, _, files in os.walk(full)
                for f in files
                if _entry_format(f)
            }
            if len(fmts) == 1:
                name = os.path.splitext(entry)[0] if _entry_format(entry) else entry
                out[name] = (full, fmts.pop())
    return out


def read_lake_table(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    from .files import read_csv, read_json

    if fmt == "parquet":
        # mergeSchema: a lake directory accumulates files written across
        # schema VERSIONS (columns added over time). The default reader
        # picks one footer and silently drops later columns — a surveyor
        # must report the union schema (evolved columns arrive nullable).
        # Footer-merge cost is exactly what a schema collector signs up
        # for; data pages are untouched.
        return spark.read.option("mergeSchema", "true").parquet(path)
    df = read_csv(spark, path) if fmt == "csv" else read_json(spark, path)
    if df.columns == ["_corrupt_record"]:
        # every line is malformed; Spark also refuses any query that
        # references only the corrupt-record column
        raise ValueError("no line parses as a record")
    return df
