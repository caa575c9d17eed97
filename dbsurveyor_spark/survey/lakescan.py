"""One scan per lake `collect`: every table of the lake is read once.

The reference's `collect` visits each table once for its schema, key
detection, sampling and quality analysis (`collect.rs`, `sampling.rs:160`,
`quality/analyzer.rs`). `survey_lake` does the same over any directory of
parquet, csv or JSON-lines tables (`sources/file_lake.discover_tables`)
and keeps the number of Spark jobs independent of how many facts the
document records, the mergeable one-pass summary idea of *Approximation
Algorithms for Large Scale Data Analysis* (PODS 2021) applied to the
whole survey:

1. load each table once, from a bounded driver pool: a catalog-named
   `<table>.parquet` through `catalog.load_table` (one parquet-schema job),
   any other table through `file_lake.read_lake_table`; a table that
   fails to load becomes a warning;
2. pass 1 — one action for all tables: each table's 1-row aggregate (row
   count, and with quality the `_quality_pass1` sketches and moments) is
   packed as `to_json(struct(*))` so the differently-shaped rows union and
   collect together; JSON keeps longs exact and Java's double text
   round-trips;
3. keys — one scan of each table and one value shuffle for every PK and
   FK candidate of the catalog's hints whose tables and columns are
   present (`profile.key_inference`), collected as one frame;
4. pass 2 — one action: the outlier counts of every table, packed likewise;
5. samples — each table's OrderingStrategy comes from its schema and its
   inferred primary key by the rule the SQLite and JDBC collectors use
   (`sources/ordering.relational_ordering_strategy`), and its sample is
   the `orderBy(...).limit(n)` head by that strategy's columns,
   descending, or by a deterministic row hash for an `Unordered` table;
   one job per table, from the driver pool (`export.table_sample` redacts
   the rows before they enter the document).

Steps 2 and 4 run side by side with steps 3 and 5; the samples wait for
the keys they are ordered by. The ten-table catalog lake takes about 55
Spark jobs in all (AQE runs each shuffle stage of an action as a job of
its own), where reading each table once per phase took 204.

Jobs submitted from pool threads keep the caller's Spark job group
(`profile.pool_map`), so the Spark UI and the status store tie them to the
calling phase. With `throttle_ms` the per-table loads and samples run one
at a time with that delay between them (the reference's `--throttle`,
`collect.rs:72`).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from ..catalog import TABLES, load_table
from ..sources.file_lake import discover_tables, read_lake_table
from ..sources.ordering import order_columns, relational_ordering_strategy
from .profile import FK_CANDIDATES, PK_CANDIDATES, key_inference, pool_map
from .quality import (
    _quality_pass1,
    _quality_pass2,
    disabled_table_metrics,
    numeric_columns,
    outlier_checks,
    table_metrics,
)
from .qualityconfig import QualityConfig


def collect_packed(parts: dict[Any, DataFrame]) -> dict[Any, list[dict]]:
    """Collect differently-shaped frames in ONE job: each row is packed as
    `to_json(struct(*))` next to its part's index, the packed frames are
    unioned, and the rows come back as dicts keyed by part. Null fields
    are left out of the JSON (read them with ``.get``)."""
    keys = list(parts)
    out: dict[Any, list[dict]] = {k: [] for k in keys}
    if not keys:
        return out
    packed = reduce(
        DataFrame.unionByName,
        [
            df.select(
                F.lit(i).alias("part"), F.to_json(F.struct(*df.columns)).alias("row")
            )
            for i, df in enumerate(parts.values())
        ],
    )
    for r in packed.collect():
        out[keys[r["part"]]].append(json.loads(r["row"]))
    return out


def sample_tables(
    spark: SparkSession,
    frames: dict[str, DataFrame],
    orderings: dict[str, Any],
    limit: int,
    throttle_ms: int | None = None,
) -> dict[str, list[dict]]:
    """Table → its deterministic head: up to ``limit`` rows ordered by the
    columns of the table's OrderingStrategy in ``orderings``, descending,
    or for ``Unordered`` by a hash of the whole row."""

    def head(tname: str) -> list[dict]:
        df = frames[tname]
        if not df.columns:  # an empty csv/jsonl file has no column to order by
            return []
        order = [F.desc(c) for c in order_columns(orderings[tname])] or [F.xxhash64(*df.columns)]
        return [r.asDict(recursive=True) for r in df.orderBy(*order).limit(limit).collect()]

    return dict(zip(frames, pool_map(spark, head, list(frames), throttle_ms)))


def _row_counts_and_quality(
    frames: dict[str, DataFrame],
    quality: QualityConfig | None,
) -> tuple[dict[str, int], list[dict] | None]:
    """Pass 1 for every table in one action (just the row count unless
    quality analysis runs), then pass 2's outlier counts for every table in
    one more."""
    analyze = quality is not None and quality.enabled
    num_cols = {t: numeric_columns(df) for t, df in frames.items()} if analyze else {}
    pass1 = {
        t: rows[0]
        for t, rows in collect_packed(
            {
                t: (
                    _quality_pass1(df, num_cols[t])
                    if analyze
                    else df.agg(F.count(F.lit(1)).alias("__total"))
                )
                for t, df in frames.items()
            }
        ).items()
    }
    row_counts = {t: r["__total"] for t, r in pass1.items()}
    if quality is None:
        return row_counts, None
    if not analyze:
        return row_counts, [disabled_table_metrics(t, n) for t, n in row_counts.items()]

    checks = {t: outlier_checks(r, num_cols[t], quality) for t, r in pass1.items()}
    pass2 = collect_packed(
        {
            t: _quality_pass2(df, checks[t], quality.z_score_threshold)
            for t, df in frames.items()
            if checks[t]
        }
    )
    return row_counts, [
        table_metrics(
            t,
            df.columns,
            pass1[t],
            checks[t],
            pass2[t][0] if t in pass2 else {},
            quality,
        )
        for t, df in frames.items()
    ]


def _infer_keys(
    frames: dict[str, DataFrame],
) -> tuple[dict[str, list[str]], dict[str, list[dict[str, Any]]]]:
    """Primary and foreign keys of the scanned tables, in candidate order,
    from one `key_inference` action over the candidates whose tables and
    integer columns are all in ``frames``."""

    def present(t: str, c: str) -> bool:
        return (
            t in frames
            and c in frames[t].columns
            and isinstance(frames[t].schema[c].dataType, IntegralType)
        )

    pks = [(t, c) for t, c in PK_CANDIDATES if present(t, c)]
    fks = [f for f in FK_CANDIDATES if present(f[0], f[1]) and present(f[2], f[3])]
    if not pks and not fks:
        return {}, {}
    keys = [r for r in key_inference(frames, pks, fks).collect() if r["is_key"]]
    unique = {(r["table_name"], r["column_name"]) for r in keys if r["parent_table"] is None}
    contained = {
        (r["table_name"], r["column_name"], r["parent_table"], r["parent_column"])
        for r in keys
        if r["parent_table"] is not None
    }
    primary_keys: dict[str, list[str]] = {}
    for t, c in pks:
        if (t, c) in unique:
            primary_keys.setdefault(t, []).append(c)
    foreign_keys: dict[str, list[dict[str, Any]]] = {}
    for ct, cc, pt, pc in fks:
        if (ct, cc, pt, pc) in contained:
            foreign_keys.setdefault(ct, []).append(
                {
                    "name": f"fk_{ct}_{cc}",
                    "columns": [cc],
                    "referenced_table": pt,
                    "referenced_columns": [pc],
                }
            )
    return primary_keys, foreign_keys


def _one_line(exc: Exception) -> str:
    """The exception's class and the first line of its message; for a JVM
    error, those of its root cause (its text is a whole Java stack trace)."""
    java = getattr(exc, "java_exception", None)
    if java is None:
        name, message = type(exc).__name__, str(exc)
    else:
        while java.getCause() is not None:
            java = java.getCause()
        name, message = java.getClass().getSimpleName(), java.getMessage() or ""
    return f"{name}: {(message.strip().splitlines() or [''])[0]}"


@dataclass
class LakeSurvey:
    """What one scan of a lake found, per table in scan order."""

    sources: dict[str, tuple[str, str]]  # (path, format) of every table tried
    frames: dict[str, DataFrame]
    row_counts: dict[str, int]
    primary_keys: dict[str, list[str]]
    foreign_keys: dict[str, list[dict[str, Any]]]
    orderings: dict[str, Any]  # table → OrderingStrategy (models.rs:362)
    samples: dict[str, list[dict]] | None  # table → sampled rows, unredacted
    quality_metrics: list[dict] | None
    warnings: list[str]


def survey_lake(
    spark: SparkSession,
    lake_dir: str,
    tables: list[str] | tuple[str, ...] | None = None,
    *,
    infer_keys: bool = True,
    sample: int = 0,
    quality: QualityConfig | None = None,
    throttle_ms: int | None = None,
) -> LakeSurvey:
    """Survey the tables of the lake at ``lake_dir`` with one read of each.

    The tables are every one `discover_tables` finds, catalog tables first
    in catalog order, or just ``tables`` (a name the lake lacks raises
    ValueError before any Spark work). A table that fails to load is left
    out and named in ``warnings``, as are the entries `discover_tables`
    skips or renames. ``infer_keys`` runs the catalog's PK/FK
    candidates whose tables and columns are in the scan. Each table's
    OrderingStrategy follows from its schema and primary key
    (`relational_ordering_strategy`); ``sample`` > 0 takes that many rows
    per table in that order, unredacted; ``quality`` adds the
    TableQualityMetrics list.

    After the loads, the passes run side by side with the key shuffle and
    the samples, which follow the keys, from the driver pool.
    """
    found, notes = discover_tables(lake_dir)
    if tables is None:
        tables = sorted(found, key=lambda t: (TABLES.index(t) if t in TABLES else len(TABLES), t))
    unknown = [t for t in tables if t not in found]
    if unknown:
        raise ValueError(f"{lake_dir} has no table named {', '.join(unknown)}")
    sources = {t: found[t] for t in tables}

    def load(t: str) -> DataFrame | Exception:
        path, fmt = sources[t]
        try:
            # a catalog <t>.parquet keeps catalog.load_table's type normalisation
            if fmt == "parquet" and t in TABLES and os.path.basename(path) == f"{t}.parquet":
                return load_table(spark, lake_dir, t)
            return read_lake_table(spark, path, fmt)
        except Exception as exc:  # unreadable table: report it, survey the rest
            return exc

    loaded = dict(zip(sources, pool_map(spark, load, list(sources), throttle_ms)))
    frames = {t: df for t, df in loaded.items() if not isinstance(df, Exception)}
    warnings = notes + [
        f"{t}: collection failed: {_one_line(exc)}"
        for t, exc in loaded.items()
        if isinstance(exc, Exception)
    ]

    def keys_and_samples():
        primary_keys, foreign_keys = _infer_keys(frames) if infer_keys else ({}, {})
        orderings = {
            t: relational_ordering_strategy(
                [{"name": f.name, "data_type": f.dataType.simpleString()} for f in df.schema.fields],
                primary_keys.get(t, []),
            )
            for t, df in frames.items()
        }
        samples = sample_tables(spark, frames, orderings, sample, throttle_ms) if sample else None
        return primary_keys, foreign_keys, orderings, samples

    (row_counts, metrics), (primary_keys, foreign_keys, orderings, samples) = pool_map(
        spark,
        lambda task: task(),
        [lambda: _row_counts_and_quality(frames, quality), keys_and_samples],
        throttle_ms,
    )
    return LakeSurvey(
        sources=sources,
        frames=frames,
        row_counts=row_counts,
        primary_keys=primary_keys,
        foreign_keys=foreign_keys,
        orderings=orderings,
        samples=samples,
        quality_metrics=metrics,
        warnings=warnings,
    )
