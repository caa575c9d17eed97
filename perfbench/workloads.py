"""The benchmark's workloads: inputs, one pass, and the correctness checks.

Each workload is one client in a closed loop: an operation starts when the
previous one has finished. A pass is one complete run of the workload;
``run.py`` times passes and operations and owns the Spark session.

survey_full
    The pipeline users run. One operation is one database surveyed end to
    end: ``collect`` into a schema document, then ``validate``,
    ``generate --format markdown`` and ``sql`` on it. A pass surveys the
    seeded catalog lake (samples, quality metrics, encrypted document), a
    SQLite database and a ``docs:`` JSON-lines lake. The pass is timed cold,
    as each CLI invocation runs.
query_mix
    An analyst session: a fixed list of registry queries, at least one per
    operator family, each forced with a ``noop`` write, in a seeded order.
    One untimed pass warms the session first. Every pass starts from a
    cold session state (Spark's cache and the engine's index memos
    cleared), as a fresh session pays it.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import random
import time
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from typing import Any

import datagen

PASSPHRASE = "perfbench-survey-passphrase"
SAMPLE_ROWS = "50"
SQLITE_TABLES = ("region", "nation", "customer", "supplier", "orders")

# Registry queries of the analyst session, one or more per operator family.
# The list leaves out queries that alone take over a fifth of a pass (for
# example graph_link_prediction), which would make every percentile theirs.
QUERY_KEYS = (
    "q3_shipping_priority",  # relational / tpch
    "dedup_exact",  # dedup
    "ann_ivf_topk",  # similarity (trains IVF centroids)
    "graph_degree_distribution",  # graph (builds the co-purchase graph)
    "text_stats",  # textstats
    "sketch_cm_heavy_hitters",  # sketches
    "funnel_conversion",  # asof / funnel
    "corpus_decontamination",  # pipeline / layout
    "source_sqlite_roundtrip",  # dbsource
    "stream_tumbling_counts",  # streaming.events
    "mm_image_neardup",  # multimodal
)

# registry module → benchmark layer
_MODULE_LAYER = {
    "dbsurveyor_spark.operators.relational": "operators.relational",
    "dbsurveyor_spark.operators.tpch_extra": "operators.relational",
    "dbsurveyor_spark.operators.dedup": "operators.dedup",
    "dbsurveyor_spark.operators.similarity": "operators.similarity",
    "dbsurveyor_spark.operators.graph": "operators.graph",
    "dbsurveyor_spark.operators.textstats": "operators.textstats",
    "dbsurveyor_spark.streaming.events": "streaming.events",
    "dbsurveyor_spark.multimodal.codec": "multimodal",
    "dbsurveyor_spark.multimodal.audio": "multimodal",
}


def query_layer(fn) -> str:
    module = getattr(fn, "__wrapped__", fn).__module__
    return _MODULE_LAYER.get(module, "operators.other")


@dataclass
class Op:
    """One timed operation of a pass."""

    name: str
    layer: str
    seconds: float = 0.0
    error: str | None = None
    outputs: dict[str, Any] = field(default_factory=dict)


def _duck_views(lake: str):
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{lake}/{t}.parquet'")
    return con


def _quiet_cli(argv: list[str]) -> int:
    """``cli.main`` with its progress prints kept off the benchmark's stdout."""
    from dbsurveyor_spark import cli

    with contextlib.redirect_stdout(io.StringIO()):
        return cli.main(argv)


# ------------------------------------------------------------- survey_full


class SurveyFull:
    name = "survey_full"
    min_passes = 1
    sf = 0.01

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.lake = os.path.join(work, "lake")
        self.small = os.path.join(work, "small")
        self.docs = os.path.join(work, "docs")
        self.out = os.path.join(work, "out")
        self.sqlite_db = ""
        self.inputs: dict[str, Any] = {}
        self.verify_s = 0.0  # time spent checking outputs, kept out of set-up
        self._expected: dict[str, Any] | None = None

    def setup(self, spark) -> None:
        from dbsurveyor_spark.sources.sqlite_fixture import ensure_sqlite_db

        tables = datagen.make_tables(self.seed, self.sf)
        lake_bytes = datagen.write_lake(tables, self.lake, self.seed)
        small = datagen.subset_tables(tables, self.seed, keep=0.2)
        datagen.write_lake(small, self.small, self.seed)
        self.sqlite_db = ensure_sqlite_db(self.small, SQLITE_TABLES)
        doc_counts = datagen.write_document_lake(tables["events"], self.docs)
        os.makedirs(self.out, exist_ok=True)
        self.inputs = {
            "lake_rows": {t: tables[t].num_rows for t in tables},
            "lake_bytes": sum(lake_bytes.values()),
            "sqlite_rows": {t: small[t].num_rows for t in SQLITE_TABLES},
            "sqlite_bytes": os.path.getsize(self.sqlite_db),
            "docs_collections": doc_counts,
            "docs_bytes": sum(
                os.path.getsize(os.path.join(self.docs, f)) for f in os.listdir(self.docs)
            ),
        }

    def _pipeline(self, name: str, source: str, extra: list[str], pw: list[str]) -> Op:
        doc = os.path.join(self.out, f"{name}.json")
        md = os.path.join(self.out, f"{name}.md")
        ddl = os.path.join(self.out, f"{name}.sql")
        op = Op(name, "cli", outputs={"doc": doc, "md": md, "sql": ddl})
        steps = [
            ["collect", source, *extra, *(["--encrypt"] if pw else []), *pw, "-o", doc],
            ["validate", doc, *pw],
            ["generate", doc, "--format", "markdown", "-o", md, *pw],
            ["sql", doc, "-o", ddl, *pw],
        ]
        t0 = time.perf_counter()
        try:
            for argv in steps:
                rc = _quiet_cli(argv)
                if rc != 0:
                    op.error = f"{argv[0]} exited {rc}"
                    break
        except Exception as exc:  # counted as a failed operation
            op.error = f"{type(exc).__name__}: {exc}"
        op.seconds = time.perf_counter() - t0
        return op

    def run_pass(self, spark, rng: random.Random, span) -> list[Op]:
        # the traced run wraps the engine's own calls; no span per operation
        return [
            self._pipeline(
                "lake",
                self.lake,
                ["--sample", SAMPLE_ROWS, "--enable-quality"],
                ["--passphrase", PASSPHRASE],
            ),
            self._pipeline("sqlite", f"sqlite://{self.sqlite_db}", [], []),
            self._pipeline("docs", f"docs:{self.docs}", ["--sample", "20"], []),
        ]

    # -------------------------------------------------------- correctness

    def expected(self) -> dict[str, Any]:
        """Facts the documents must report, computed by DuckDB and by the
        generator, independently of the engine."""
        if self._expected is None:
            from dbsurveyor_spark import registry

            con = _duck_views(self.lake)
            oracles = registry.oracle_sql()
            counts = {
                t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                for t in datagen.TABLES
            }
            pk = {
                (t, c)
                for t, c, ok in con.execute(
                    "SELECT table_name, column_name, is_candidate_key FROM ("
                    + oracles["survey_pk_inference"]
                    + ")"
                ).fetchall()
                if ok
            }
            fk = {
                tuple(r[:4])
                for r in con.execute(
                    "SELECT child_table, child_column, parent_table, parent_column,"
                    " is_foreign_key FROM (" + oracles["survey_fk_inference"] + ")"
                ).fetchall()
                if r[4]
            }
            con.close()
            self._expected = {"counts": counts, "pk": pk, "fk": fk}
        return self._expected

    def check(self, op: Op) -> list[str]:
        """Problems with one operation's outputs; empty when correct."""
        from dbsurveyor_spark.security import decrypt_bytes
        from dbsurveyor_spark.survey.export import validate_schema_doc

        with open(op.outputs["doc"], "rb") as fh:
            raw = fh.read()
        doc = json.loads(decrypt_bytes(raw, PASSPHRASE) if op.name == "lake" else raw)
        problems = [f"validate: {p}" for p in validate_schema_doc(doc)]
        tables = {t["name"]: t for t in doc.get("tables", [])}
        with open(op.outputs["md"]) as fh:
            md = fh.read()
        with open(op.outputs["sql"]) as fh:
            ddl = fh.read()
        for t in tables:
            if t not in md or t not in ddl:
                problems.append(f"{t} missing from markdown or DDL")
        if op.name == "lake":
            exp = self.expected()
            if set(tables) != set(exp["counts"]):
                problems.append(f"tables {sorted(tables)}")
            for t, n in exp["counts"].items():
                if tables.get(t, {}).get("row_count") != n:
                    problems.append(f"{t}.row_count != {n}")
            analyzed = {m["table_name"]: m["analyzed_rows"] for m in doc.get("quality_metrics") or []}
            if analyzed != exp["counts"]:
                problems.append("quality analyzed_rows differ from count(*)")
            pk = {
                (t, c)
                for t, d in tables.items()
                for c in ((d.get("primary_key") or {}).get("columns") or [])
            }
            if pk != exp["pk"]:
                problems.append(f"primary keys {sorted(pk ^ exp['pk'])}")
            fk = {
                (t, f["columns"][0], f["referenced_table"], f["referenced_columns"][0])
                for t, d in tables.items()
                for f in d.get("foreign_keys") or []
            }
            if fk != exp["fk"]:
                problems.append(f"foreign keys {sorted(fk ^ exp['fk'])}")
            samples = {s["table_name"]: s["sample_size"] for s in doc.get("samples") or []}
            want = {t: min(int(SAMPLE_ROWS), n) for t, n in exp["counts"].items()}
            if samples != want:
                problems.append("sample sizes differ")
        elif op.name == "sqlite":
            want = self.inputs["sqlite_rows"]
            got = {t: d.get("row_count") for t, d in tables.items()}
            if got != want:
                problems.append(f"sqlite tables {got} != {want}")
        else:
            want = self.inputs["docs_collections"]
            got = {t: d.get("row_count") for t, d in tables.items()}
            if got != want:
                problems.append(f"collections {got} != {want}")
        return problems

    def warm_up(self, spark, rng: random.Random) -> list[Op]:
        """No warm-up pass: every ``collect`` a user runs starts a fresh
        process, so the cold JVM and the first-use costs are paid on every
        survey and belong in the timed pass."""
        return []

    def verify(self, ops: list[Op]) -> None:
        t0 = time.perf_counter()
        for op in ops:
            if op.error is None:
                try:
                    problems = self.check(op)
                except Exception as exc:  # unreadable output counts as wrong
                    problems = [f"{type(exc).__name__}: {exc}"]
                if problems:
                    op.error = "; ".join(problems)[:500]
        self.verify_s += time.perf_counter() - t0


# --------------------------------------------------------------- query_mix


def _canon(v: Any) -> str:
    """Engine-neutral text of one value that is not a bare number."""
    if v is None:
        return "null"
    if isinstance(v, float) and math.isnan(v):
        return "null"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        return f"{float(v):.12g}"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return datetime(v.year, v.month, v.day).isoformat()
    return str(v)


def _value(x: Any) -> Any:
    """A number as a float (ints are exact up to 2**53), anything else as
    its engine-neutral text."""
    import numpy as np
    import pandas as pd

    if isinstance(x, pd.Timestamp):
        x = x.to_pydatetime()
    elif isinstance(x, np.generic):
        x = x.item()
    elif not isinstance(x, (list, tuple, dict, np.ndarray)) and pd.isna(x):
        x = None
    if isinstance(x, (int, float, Decimal)) and not isinstance(x, bool):
        return float(x)
    return _canon(x)


def _sorted_rows(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(_value(x) for x in rec) for rec in df[cols].itertuples(index=False, name=None)]
    rows.sort(
        key=lambda r: tuple(
            (1, round(v, 6), "") if isinstance(v, float) else (0, 0.0, v) for v in r
        )
    )
    return cols, rows


def frames_differ(got, want) -> str | None:
    """Why two pandas frames hold different results, or None when they
    match: same column names, same row count, and the same rows in any
    order. Numbers match within 1e-9: both engines round float outputs to
    9 decimals, and a value computed in a different summation order can
    round one step apart."""
    got_cols, got_rows = _sorted_rows(got)
    want_cols, want_rows = _sorted_rows(want)
    if got_cols != want_cols:
        return f"columns {got_cols} != {want_cols}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"
    for a, b in zip(got_rows, want_rows):
        for col, x, y in zip(got_cols, a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return f"{col}: {x!r} != {y!r}"
            elif x != y:
                return f"{col}: {x!r} != {y!r}"
    return None


class QueryMix:
    name = "query_mix"
    # The JIT keeps speeding passes up for a few passes after the warm-up;
    # a fixed pass count keeps the median pass at the same point of that
    # curve in every run.
    min_passes = 3
    sf = 0.01

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.lake = os.path.join(work, "lake")
        self.inputs: dict[str, Any] = {}
        self.verify_s = 0.0  # time spent in the oracle and the compare
        self.wrong: dict[str, str] = {}

    def setup(self, spark) -> None:
        tables = datagen.make_tables(self.seed, self.sf)
        sizes = datagen.write_lake(tables, self.lake, self.seed)
        self.inputs = {
            "lake_rows": {t: tables[t].num_rows for t in tables},
            "lake_bytes": sum(sizes.values()),
            "queries": len(QUERY_KEYS),
        }

    @staticmethod
    def reset_session(spark) -> None:
        from dbsurveyor_spark.plans.cache import clear_index_memos

        spark.catalog.clearCache()
        clear_index_memos()

    def run_pass(self, spark, rng: random.Random, span) -> list[Op]:
        """One pass; ``span(layer)`` is a context manager around each query."""
        from dbsurveyor_spark import registry

        qs = registry.queries()
        order = list(QUERY_KEYS)
        rng.shuffle(order)
        self.reset_session(spark)
        ops = []
        for key in order:
            op = Op(key, query_layer(qs[key]))
            t0 = time.perf_counter()
            try:
                with span(op.layer):
                    qs[key](spark, self.lake).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # counted as a failed operation
                op.error = f"{type(exc).__name__}: {exc}"[:500]
            op.seconds = time.perf_counter() - t0
            ops.append(op)
        return ops

    def warm_up(self, spark, rng: random.Random) -> list[Op]:
        """The untimed first pass, which also checks every query once per
        run against its DuckDB oracle: the engine's result is collected
        instead of discarded. A query found wrong marks each of its timed
        operations failed."""
        from dbsurveyor_spark import registry

        qs = registry.queries()
        oracles = registry.oracle_sql()
        order = list(QUERY_KEYS)
        rng.shuffle(order)
        self.reset_session(spark)
        con = _duck_views(self.lake)
        ops = []
        try:
            for key in order:
                op = Op(key, query_layer(qs[key]))
                try:
                    got = qs[key](spark, self.lake).toPandas()
                    t0 = time.perf_counter()
                    want = con.execute(oracles[key]).df()
                    op.error = frames_differ(got, want)
                    self.verify_s += time.perf_counter() - t0
                except Exception as exc:
                    op.error = f"{type(exc).__name__}: {exc}"[:500]
                if op.error is None and len(got) == 0:
                    op.error = "empty result: the check would be vacuous"
                if op.error:
                    self.wrong[key] = op.error
                ops.append(op)
        finally:
            con.close()
        return ops

    def verify(self, ops: list[Op]) -> None:
        for op in ops:
            if op.error is None and op.name in self.wrong:
                op.error = self.wrong[op.name]


WORKLOADS = {w.name: w for w in (SurveyFull, QueryMix)}
