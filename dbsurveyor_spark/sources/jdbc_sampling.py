"""JDBC table sampling: ordering-aware LIMIT samples, keyset paging, retry.

Parity surface: `dbsurveyor-core/src/adapters/postgres/sampling.rs` —
`generate_order_by_clause` (:420), `sample_table` (:484, one ORDER BY +
LIMIT query per table with throttling between tables), TableSample /
SampleStatus (models.rs:385-414). Like `jdbc_collect`, everything runs
through a `read_query` callable so the logic is fully exercised against
stub frames even though no live server exists in this container.

Every clause orders by `ordering.order_columns` of the table's
OrderingStrategy, the one reader of that tagged value.

Beyond the reference, `keyset_pages` adds KEYSET pagination for bulk
extraction: `WHERE key > last ORDER BY key LIMIT n` touches each row once
across the whole scan, where OFFSET paging re-reads a growing prefix per
page (O(pages²) rows server-side — the classic large-table mistake). The
reference only ever pulls bounded samples so it never needed paging; a
Spark collector pulling a table for lake-side analysis does. It is the
one keyset pager: it takes a page-fetch callable, so `paged_reader` (a
JDBC `read_query`) and `sqlite_scale.live_keyset_pages` (a read-only
SQLite connection) run the same loop.

Transient-failure handling: `with_retries` wraps every page/sample query
in bounded exponential backoff — the connection-handling behavior a live
deployment hits first (sleep is injectable so tests run instantly).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame

from .ordering import order_columns

ReadQuery = Callable[[str], DataFrame]

DEFAULT_RETRIES = 3
DEFAULT_BACKOFF_S = 0.5


def escape_identifier(ident: str) -> str:
    """Double embedded quotes (sampling.rs:398)."""
    return ident.replace('"', '""')


def _qual(schema: str | None, table: str) -> str:
    t = f'"{escape_identifier(table)}"'
    return f'"{escape_identifier(schema)}".{t}' if schema else t


def generate_order_by_clause(
    strategy: dict[str, Any] | str, descending: bool = True
) -> str:
    """ORDER BY for an OrderingStrategy value (sampling.rs:420) —
    identical clause shapes, including the Unordered → RANDOM() fallback
    the reference uses for fair samples on orderless tables."""
    direction = "DESC" if descending else "ASC"
    cols = order_columns(strategy)
    if not cols:
        return "ORDER BY RANDOM()"
    return "ORDER BY " + ", ".join(
        f'"{escape_identifier(c)}" {direction}' for c in cols
    )


TABLESAMPLE_MIN_ROWS = 1000  # sampling.rs:34
TABLESAMPLE_OVERSAMPLING_FACTOR = 2.0  # sampling.rs:39


def sample_sql(
    schema: str | None,
    table: str,
    strategy: dict[str, Any] | str,
    limit: int,
    total_rows: int | None = None,
    engine: str = "postgresql",
) -> str:
    """The one-shot sample query (sampling.rs:606-621 shapes).

    Unordered tables with a large-enough row estimate use Postgres
    TABLESAMPLE BERNOULLI (oversampled 2× so the LIMIT almost always
    fills) instead of ORDER BY RANDOM() — which is a full-table sort
    server-side, the one sampling query that would hurt on a big
    production table. MySQL has no TABLESAMPLE, so it keeps the RANDOM()
    fallback (as does any monotone strategy, which never sorts more than
    an index scan)."""
    if (
        not order_columns(strategy)
        and engine == "postgresql"
        and total_rows is not None
        and total_rows >= TABLESAMPLE_MIN_ROWS
    ):
        pct = min(
            100.0,
            max(
                0.01,
                limit * TABLESAMPLE_OVERSAMPLING_FACTOR / total_rows * 100.0,
            ),
        )
        return (
            f"SELECT * FROM {_qual(schema, table)} "
            f"TABLESAMPLE BERNOULLI({pct:.4f}) LIMIT {int(limit)}"
        )
    return (
        f"SELECT * FROM {_qual(schema, table)} "
        f"{generate_order_by_clause(strategy, descending=True)} "
        f"LIMIT {int(limit)}"
    )


def with_retries(
    fn: Callable[[], Any],
    retries: int = DEFAULT_RETRIES,
    backoff_s: float = DEFAULT_BACKOFF_S,
    sleep: Callable[[float], None] = time.sleep,
) -> Any:
    """Run ``fn`` with bounded exponential backoff (0.5s, 1s, 2s, …).
    Re-raises the last error once attempts are exhausted."""
    attempt = 0
    while True:
        try:
            return fn()
        except Exception:
            attempt += 1
            if attempt > retries:
                raise
            sleep(backoff_s * (2 ** (attempt - 1)))


def keyset_columns(
    strategy: dict[str, Any] | str, tiebreaker: str | None = None
) -> list[str]:
    """The UNIQUE key column list a keyset scan may page on.

    A keyset resume predicate is ``key > last``: if the key is not unique,
    a page boundary falling inside a group of equal keys silently skips the
    rest of that group — data loss in the bulk-extraction path (ADVICE r5).
    PrimaryKey / AutoIncrement / SystemRowId are unique by definition;
    Timestamp is NOT, so it pages only as (ts, tiebreaker) with a
    caller-supplied unique tiebreaker column appended to both the keyset
    and the row-value comparison."""
    cols = order_columns(strategy)
    if not cols:
        raise ValueError("keyset paging requires a monotone ordering")
    if "Timestamp" in strategy:
        if not tiebreaker:
            raise ValueError(
                "keyset paging on a timestamp requires a unique "
                "tiebreaker column: timestamps are not unique and a "
                "strict resume predicate would skip boundary rows"
            )
        cols.append(tiebreaker)
    return cols


def keyset_page_sql(
    schema: str | None,
    table: str,
    strategy: dict[str, Any] | str,
    page_size: int,
    last_seen: tuple | None = None,
    tiebreaker: str | None = None,
) -> str:
    """One keyset page: ascending scan resuming strictly after
    ``last_seen`` (row-value comparison for composite keys). Requires a
    UNIQUE monotone keyset (see `keyset_columns`) — Unordered tables have
    no resumable position and callers must fall back to a single bounded
    sample."""
    cols = keyset_columns(strategy, tiebreaker)
    where = ""
    if last_seen is not None:
        quoted = ", ".join(f'"{escape_identifier(c)}"' for c in cols)
        vals = ", ".join(_sql_literal(v) for v in last_seen)
        where = (
            f"WHERE ({quoted}) > ({vals}) " if len(cols) > 1
            else f"WHERE {quoted} > {vals} "
        )
    order = "ORDER BY " + ", ".join(
        f'"{escape_identifier(c)}" ASC' for c in cols
    )
    return (
        f"SELECT * FROM {_qual(schema, table)} "
        f"{where}{order} LIMIT {int(page_size)}"
    )


def _sql_literal(v: Any) -> str:
    if v is None:
        raise ValueError("keyset position cannot contain NULL")
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        import math

        # NaN/±inf render as invalid SQL ('nan'), and a float keyset is a
        # precision hazard anyway — reject non-finite, format full-precision
        # (17 significant digits round-trips any IEEE double exactly)
        if not math.isfinite(v):
            raise ValueError("keyset position cannot be non-finite")
        return format(v, ".17g")
    if isinstance(v, int):
        return repr(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"


def keyset_pages(
    fetch: Callable[[str], list[dict[str, Any]]],
    schema: str | None,
    table: str,
    strategy: dict[str, Any] | str,
    page_size: int = 10_000,
    max_pages: int | None = None,
    retries: int = DEFAULT_RETRIES,
    backoff_s: float = DEFAULT_BACKOFF_S,
    sleep: Callable[[float], None] = time.sleep,
    tiebreaker: str | None = None,
) -> Iterator[list[dict[str, Any]]]:
    """Yield lists of row dicts, one page at a time, resuming by keyset;
    ``fetch`` runs one page's SQL and returns its rows.

    Each page query runs under `with_retries`; a transient failure
    re-issues the SAME page (keyset position only advances on success, so
    retries can never skip rows — the at-least-once property OFFSET
    paging cannot give you once the server has moved on). A Timestamp
    strategy pages only with a unique ``tiebreaker`` column (see
    `keyset_columns`).
    """
    cols = keyset_columns(strategy, tiebreaker)
    last: tuple | None = None
    pages = 0
    while max_pages is None or pages < max_pages:
        sql = keyset_page_sql(
            schema, table, strategy, page_size, last, tiebreaker
        )
        rows = with_retries(
            lambda: fetch(sql), retries=retries, backoff_s=backoff_s, sleep=sleep
        )
        if not rows:
            return
        yield rows
        last = tuple(rows[-1][c] for c in cols)
        pages += 1
        if len(rows) < page_size:
            return


def paged_reader(
    read_query: ReadQuery,
    schema: str | None,
    table: str,
    strategy: dict[str, Any] | str,
    **paging: Any,
) -> Iterator[list[dict[str, Any]]]:
    """`keyset_pages` of a JDBC table through ``read_query``; ``paging``
    takes `keyset_pages`'s keywords."""
    return keyset_pages(
        lambda sql: [r.asDict() for r in read_query(sql).collect()],
        schema,
        table,
        strategy,
        **paging,
    )


def sample_table(
    read_query: ReadQuery,
    schema: str | None,
    table: str,
    strategy: dict[str, Any] | str,
    sample_size: int = 100,
    total_rows: int | None = None,
    engine: str = "postgresql",
    retries: int = DEFAULT_RETRIES,
    backoff_s: float = DEFAULT_BACKOFF_S,
    sleep: Callable[[float], None] = time.sleep,
    redact_mode: str = "balanced",
) -> dict[str, Any]:
    """One table's TableSample (`survey.export.table_sample`), its rows
    redacted under ``redact_mode``."""
    from ..survey.export import table_sample

    warnings: list[str] = []
    if not order_columns(strategy):
        warnings.append(
            f"table {table} has no reliable ordering; using random sampling"
        )
    try:
        rows = with_retries(
            lambda: [
                r.asDict()
                for r in read_query(
                    sample_sql(
                        schema,
                        table,
                        strategy,
                        sample_size,
                        total_rows=total_rows,
                        engine=engine,
                    )
                ).collect()
            ],
            retries=retries,
            backoff_s=backoff_s,
            sleep=sleep,
        )
        status: dict[str, Any] | str = "Complete"
    except Exception as e:  # attempts exhausted — record, don't abort sweep
        rows = []
        status = {"Skipped": {"reason": f"sampling failed: {e}"}}
        warnings.append(f"sampling {table} failed after {retries} retries")
    return table_sample(
        table,
        rows,
        sample_size,
        redact_mode,
        schema=schema,
        total_rows=total_rows,
        ordering_strategy=strategy,
        status=status,
        warnings=warnings,
    )


def collect_jdbc_samples(
    read_query: ReadQuery,
    tables: list[dict[str, Any]],
    sample_size: int = 100,
    throttle_ms: int = 0,
    engine: str = "postgresql",
    retries: int = DEFAULT_RETRIES,
    backoff_s: float = DEFAULT_BACKOFF_S,
    sleep: Callable[[float], None] = time.sleep,
    redact_mode: str = "balanced",
) -> list[dict[str, Any]]:
    """Samples for every table of a collected document (the reference's
    per-table sample loop with throttle_ms rate limiting between tables —
    config/sampling.rs SamplingConfig), redacted under ``redact_mode``.
    ``tables`` are document-shaped dicts from `collect_jdbc_schema`, whose
    recorded ordering_strategy is reused instead of re-querying the
    catalog (the reference's sample_table_with_columns optimization)."""
    out = []
    for i, t in enumerate(tables):
        if i and throttle_ms:
            sleep(throttle_ms / 1000.0)
        out.append(
            sample_table(
                read_query,
                t.get("schema"),
                t["name"],
                t.get("ordering_strategy", "Unordered"),
                sample_size=sample_size,
                total_rows=t.get("row_count"),
                engine=engine,
                retries=retries,
                backoff_s=backoff_s,
                sleep=sleep,
                redact_mode=redact_mode,
            )
        )
    return out
