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


def discover_tables(lake_dir: str) -> tuple[dict[str, tuple[str, str]], list[str]]:
    """({table_name: (path, format)}, notes) for every surveyable entry.

    Files map by stem; a subdirectory whose data files share one supported
    extension maps as a single (partitioned) table, named by its stem too
    (Spark writes `orders.parquet/` as a directory of part files). Entries
    whose stems collide (`t.csv` and `t.jsonl`) are all kept: a
    `<stem>.parquet` entry, the catalog's shape, keeps the stem first, and
    each later one is named after its entry (`t_jsonl`). The notes name
    every such renaming and every mixed-format subdirectory, which is
    skipped; a collector puts them into its warnings. Entries holding no
    supported file are not tables and pass without a note.
    """
    if not os.path.isdir(lake_dir):
        raise ValueError(f"not a directory: {lake_dir}")
    entries: list[tuple[str, str, str, str]] = []  # (stem, entry, path, format)
    notes: list[str] = []
    for entry in sorted(os.listdir(lake_dir)):
        full = os.path.join(lake_dir, entry)
        if os.path.isfile(full):
            fmt = _entry_format(entry)
            if fmt:
                entries.append((os.path.splitext(entry)[0], entry, full, fmt))
        elif os.path.isdir(full):
            fmts = {
                _entry_format(f)
                for _, _, files in os.walk(full)
                for f in files
                if _entry_format(f)
            }
            if len(fmts) == 1:
                stem = os.path.splitext(entry)[0] if _entry_format(entry) else entry
                entries.append((stem, entry, full, fmts.pop()))
            elif fmts:
                notes.append(
                    f"{entry}: skipped, a directory mixing {', '.join(sorted(fmts))}"
                    " files is not one table"
                )
    out: dict[str, tuple[str, str]] = {}
    for stem, entry, full, fmt in sorted(
        entries, key=lambda e: (e[0], not e[1].endswith(".parquet"), e[1])
    ):
        name = stem
        if name in out:
            name = base = entry.replace(".", "_")
            n = 2
            while name in out:
                name, n = f"{base}_{n}", n + 1
            notes.append(
                f"{entry}: surveyed as table {name}, since table {stem} is"
                f" {os.path.basename(out[stem][0])}"
            )
        out[name] = (full, fmt)
    return out, notes


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
