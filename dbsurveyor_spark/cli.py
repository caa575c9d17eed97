"""Command-line surface mirroring the reference's two binaries.

The reference ships `dbsurveyor-collect` (survey a live database into a
portable `.dbsurveyor.json` document — dbsurveyor-collect/src/main.rs:60
Cli, :148 Command) and `dbsurveyor` (postprocess that document —
dbsurveyor/src/main.rs Command: generate/analyze/sql/validate). This module
exposes the same verbs over the Spark-lake engine:

  python -m dbsurveyor_spark.cli collect <source> -o schema.json \
      [--name N] [--sample N] [--redact-mode MODE] [--no-infer-keys] \
      [--compress] [--encrypt --passphrase P] [--database DIR ...]
  python -m dbsurveyor_spark.cli test <source>
  python -m dbsurveyor_spark.cli list-types
  python -m dbsurveyor_spark.cli generate <schema.json> --format FMT [-o OUT]
  python -m dbsurveyor_spark.cli analyze <schema.json> [--detailed]
  python -m dbsurveyor_spark.cli sql <schema.json> [-o OUT]
  python -m dbsurveyor_spark.cli validate <schema.json>

Sources: a lake directory of parquet, csv or JSON-lines tables (the
engine's native input), `sqlite:///path.db` (sources/sqlite.py),
`docs:/dir` — a document lake of `<collection>.jsonl` files surveyed via
distributed variant-based schema inference (sources/documents.py, the
MongoDB-adapter analog) — or a live server at `postgres://…` or
`mysql://…`, bare or as `jdbc:postgresql://…` / `jdbc:mysql://…`
(sources/jdbc_collect.py; needs a JDBC driver jar and a reachable
server). `test` parses a server URL and its credentials without
connecting.
Sampling fills the document's `samples` with reference-shaped TableSample
entries (models.rs:399) — redacted per security.py's mode BEFORE the rows
touch the document, matching the reference's redact-by-default posture.
Every source's document is built by `survey/export.py`.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from typing import Any

SOURCE_TYPES = (
    ("parquet-lake", "directory of parquet, csv or json-lines tables (native)"),
    ("sqlite", "sqlite:///path.db — PRAGMA-based schema + Spark-read rows"),
    ("jdbc", "jdbc:postgresql://… / jdbc:mysql://… via spark.read.jdbc"),
    ("docs", "docs:/dir of <collection>.jsonl — schemaless document lake"),
)


def _get_spark():
    from .session import get_session

    return get_session("dbsurveyor-spark-cli")


def _is_lake_dir(source: str) -> bool:
    return os.path.isdir(source)


def _server_url(source: str) -> str | None:
    """The URL of a live-server source without its `jdbc:` envelope: any
    `jdbc:…` URL, or a bare `postgres://`, `postgresql://`, `mysql://` or
    `mariadb://` one. None for every other source. `test` and `collect`
    both tell a server source by it."""
    from .security import JDBC_SCHEMES

    if source.startswith("jdbc:"):
        return source[len("jdbc:"):]
    return source if source.split("://", 1)[0] in JDBC_SCHEMES else None


def _sqlite_path(url: str) -> str:
    """Resolve a sqlite URL to a filesystem path.

    Handled forms (sqlite's own URI rules): `sqlite:///abs/path.db` (empty
    netloc → path verbatim, the documented form), `sqlite:/abs/path.db`
    (single-slash absolute, path verbatim), `sqlite:rel/path.db` (opaque
    relative). A non-empty netloc (`sqlite://host/path`) has no local-file
    meaning and is rejected rather than silently folded into a local path.

    The scheme/netloc split is done manually instead of via urlsplit:
    filenames legally contain literal `?` and `#`, which urlsplit would
    shear off as query/fragment (sqlite:/tmp/a?b.db must open
    `/tmp/a?b.db`, not `/tmp/a`). Percent-escapes are decoded, matching
    sqlite's own URI-filename handling (invalid escapes pass through).
    """
    from urllib.parse import unquote

    rest = url.split(":", 1)[1]
    if rest.startswith("//"):
        after = rest[2:]
        slash = after.find("/")
        netloc = after if slash < 0 else after[:slash]
        if netloc:
            raise ValueError(
                f"sqlite URL has a host component ({netloc!r}); "
                "use sqlite:///absolute/path.db or sqlite:relative/path.db"
            )
        rest = "" if slash < 0 else after[slash:]
    return unquote(rest)


# ------------------------------------------------------------------ collect


def __getattr__(name: str):
    # `_sample_tables` is the lake sampler's name in this module (perfbench
    # traces it as `cli.sample`). It is resolved on first use so that
    # importing the CLI does not import pyspark.
    if name == "_sample_tables":
        from .survey.lakescan import sample_tables

        return sample_tables
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def cmd_collect(args: argparse.Namespace) -> int:
    from .survey.export import (
        collect_database_schema,
        collect_multi_database_schema,
        write_schema_json,
    )

    if args.encrypt and args.compress:
        print("--encrypt and --compress are mutually exclusive", file=sys.stderr)
        return 2
    cfg = None
    if args.enable_quality:
        from .survey.qualityconfig import (
            AnomalyConfig,
            AnomalySensitivity,
            QualityConfig,
        )

        cfg = QualityConfig(
            completeness_min=args.completeness_min,
            uniqueness_min=args.uniqueness_min,
            consistency_min=args.consistency_min,
            anomaly_detection=AnomalyConfig(
                enabled=not args.no_anomaly,
                sensitivity=AnomalySensitivity(args.sensitivity),
            ),
        )
        try:
            cfg.validate()
        except ValueError as exc:
            print(f"invalid quality config: {exc}", file=sys.stderr)
            return 2
    spark = _get_spark()
    databases_filtered = 0
    if args.all_databases:
        # server-root enumeration (reference --all-databases: collect every
        # accessible database; enumeration.rs system-db filter + collect.rs
        # --exclude-databases / --include-system-databases)
        from .survey.export import enumerate_lake_databases

        try:
            kept = enumerate_lake_databases(
                args.source,
                include_system=args.include_system_databases,
                exclude=[e for chunk in args.exclude_databases for e in chunk.split(",")],
            )
            databases_filtered = len(
                enumerate_lake_databases(args.source, include_system=True)
            ) - len(kept)
        except ValueError as exc:
            print(f"bad server root: {exc}", file=sys.stderr)
            return 2
        if not kept:
            print(
                f"no surveyable databases under {args.source}", file=sys.stderr
            )
            return 1
        args = argparse.Namespace(**vars(args))
        args.database = list(kept.values())
    if args.database:
        # name by basename; identical paths dedupe, distinct paths with
        # colliding basenames get a numbered suffix so no requested lake
        # is ever silently dropped or double-surveyed
        datasets: dict[str, str] = {}
        for d in args.database:
            if d in datasets.values():
                continue
            base = os.path.basename(d.rstrip("/")) or d
            key, i = base, 2
            while key in datasets:
                key = f"{base}#{i}"
                i += 1
            datasets[key] = d
        doc: dict[str, Any] = collect_multi_database_schema(
            spark,
            datasets,
            infer_keys=not args.no_infer_keys,
            throttle_ms=args.throttle,
            databases_filtered=databases_filtered,
            sample=args.sample or 0,
            redact_mode=args.redact_mode,
            quality=cfg,
        )
    elif _is_lake_dir(args.source):
        doc = collect_database_schema(
            spark,
            args.source,
            name=args.name or os.path.basename(args.source.rstrip("/")),
            infer_keys=not args.no_infer_keys,
            sample=args.sample or 0,
            redact_mode=args.redact_mode,
            quality=cfg,
            throttle_ms=args.throttle,
        )
    elif args.source.startswith("sqlite:"):
        from .sources.sqlite import SqliteSource

        if args.sample or args.enable_quality:
            print(
                "warning: --sample/--enable-quality apply to lake-dir "
                "collect only; ignored for sqlite sources",
                file=sys.stderr,
            )
        try:
            path = _sqlite_path(args.source)
        except ValueError as exc:
            print(f"bad sqlite url: {exc}", file=sys.stderr)
            return 2
        doc = SqliteSource(path).survey(name=args.name)
    elif args.source.startswith("docs:"):
        from .sources.documents import DocumentLakeSource

        if args.enable_quality:
            print(
                "warning: --enable-quality applies to lake-dir collect "
                "only; ignored for document-lake sources",
                file=sys.stderr,
            )
        try:
            src = DocumentLakeSource(args.source[len("docs:"):])
        except ValueError as exc:
            print(f"bad docs source: {exc}", file=sys.stderr)
            return 2
        doc = src.survey(
            spark, name=args.name, sample=args.sample or 0, redact_mode=args.redact_mode
        )
    elif (url := _server_url(args.source)) is not None:
        # live relational collect: the pinned catalog sweep through a JDBC
        # reader. Needs a driver jar + reachable server; in driverless
        # environments this fails cleanly at the first catalog query.
        from .security import JDBC_SCHEMES
        from .sources.jdbc import JdbcSource
        from .sources.jdbc_collect import collect_jdbc_schema

        engine = JDBC_SCHEMES.get(url.split("://", 1)[0])
        if engine is None:
            print(f"unsupported collect source: {args.source}", file=sys.stderr)
            return 2
        if args.enable_quality:
            print(
                "warning: --enable-quality applies to lake-dir collect "
                "only; ignored for jdbc sources",
                file=sys.stderr,
            )
        try:
            src = JdbcSource(url)
            doc = collect_jdbc_schema(
                lambda sql: src.read_query(spark, sql),
                engine,
                name=args.name or src.safe_url,
                sample_size=args.sample or 0,
                throttle_ms=args.throttle or 0,
                redact_mode=args.redact_mode,
            )
        except Exception as exc:  # bad URL / driver missing / unreachable server
            print(f"jdbc collect failed: {exc}", file=sys.stderr)
            return 1
    else:
        print(f"unsupported collect source: {args.source}", file=sys.stderr)
        return 2

    return _emit_collect(doc, args)


def _emit_collect(doc: dict, args: argparse.Namespace) -> int:
    """Shared collect tail: write the document (plain / zstd / encrypted)."""
    from .survey.export import write_schema_json

    out = args.output
    if args.encrypt:
        if not args.passphrase:
            print("--encrypt requires --passphrase", file=sys.stderr)
            return 2
        write_schema_json(doc, out, passphrase=args.passphrase)
    elif args.compress:
        # output.rs:118 effective_output_path: append the format extension
        # (.zst for zstd frames) unless the path already carries it; gzip
        # fallback keeps .gz so the extension never lies about the bytes.
        from .survey.export import zstd_available

        ext = ".zst" if zstd_available() else ".gz"
        if not out.endswith(ext):
            out += ext
        write_schema_json(doc, out, compress=True)
    else:
        write_schema_json(doc, out)
    print(f"wrote {out}")
    return 0


def cmd_test(args: argparse.Namespace) -> int:
    """Connection test (dbsurveyor-collect test): cheapest possible probe."""
    src = args.source
    if _is_lake_dir(src):
        from .sources.file_lake import discover_tables

        n_tables = len(discover_tables(src)[0])
        if not n_tables:
            print(f"FAIL lake: no surveyable table in {src}", file=sys.stderr)
            return 1
        print(f"OK lake: {n_tables} tables")
        return 0
    if src.startswith("sqlite:"):
        from .sources.sqlite import SqliteSource

        try:
            s = SqliteSource(_sqlite_path(src))
            info = s.database_info()
            n_tables = len(s.table_names())
        except Exception as exc:
            print(f"FAIL sqlite: {exc}", file=sys.stderr)
            return 1
        print(f"OK sqlite: {info['name']} ({n_tables} tables)")
        return 0
    url = _server_url(src)
    if url is not None:
        from .security import parse_connection_string, sanitize_connection_url

        try:
            parse_connection_string(url)
        except ValueError as exc:
            print(f"FAIL jdbc url: {exc}", file=sys.stderr)
            return 1
        print(f"OK jdbc url parsed: {sanitize_connection_url(url)}")
        return 0
    if src.startswith("docs:"):
        from .sources.documents import DocumentLakeSource

        try:
            names = list(DocumentLakeSource(src[len("docs:"):]).collection_files())
        except ValueError as exc:
            print(f"FAIL docs: {exc}", file=sys.stderr)
            return 1
        print(f"OK document lake: {len(names)} collections")
        return 0 if names else 1
    print(f"unsupported source: {src}", file=sys.stderr)
    return 2


def cmd_list_types(_args: argparse.Namespace) -> int:
    for name, desc in SOURCE_TYPES:
        print(f"{name:13s} {desc}")
    return 0


# -------------------------------------------------------------- postprocess


def _load_doc(args: argparse.Namespace) -> dict[str, Any]:
    from .survey.export import load_schema_json

    if getattr(args, "passphrase", None):
        from .security import decrypt_bytes

        with open(args.input, "rb") as fh:
            return json.loads(decrypt_bytes(fh.read(), args.passphrase))
    # load_schema_json sniffs zstd/gzip frame magic, so .zst/.gz/.json all
    # load through the one path (extension-agnostic, like schema.rs:179's
    # payload sniff).
    return load_schema_json(args.input)


def _emit(text: str, output: str | None) -> None:
    if output:
        with open(output, "w") as fh:
            fh.write(text)
        print(f"wrote {output}")
    else:
        print(text)


def cmd_generate(args: argparse.Namespace) -> int:
    from .survey.export import to_markdown, to_mermaid_erd, to_sql_ddl

    doc = _load_doc(args)
    if args.format == "markdown":
        _emit(to_markdown(doc), args.output)
    elif args.format == "mermaid":
        _emit(to_mermaid_erd(doc), args.output)
    elif args.format == "sql":
        _emit(to_sql_ddl(doc), args.output)
    else:  # json passthrough (re-serialize, e.g. decrypt/decompress)
        _emit(json.dumps(doc, indent=2, default=str), args.output)
    return 0


def cmd_analyze(args: argparse.Namespace) -> int:
    from .survey.export import object_count

    doc = _load_doc(args)
    tables = doc.get("tables", [])
    print(f"database: {doc.get('database_info', {}).get('name')}")
    print(f"objects: {object_count(doc)}")
    print(f"tables: {len(tables)}")
    print(f"columns: {sum(len(t.get('columns', [])) for t in tables)}")
    print(f"rows: {sum(t.get('row_count') or 0 for t in tables)}")
    pk = sum(1 for t in tables if t.get("primary_key"))
    fk = sum(len(t.get("foreign_keys", []) or []) for t in tables)
    print(f"primary keys: {pk}; foreign keys: {fk}")
    qm = doc.get("quality_metrics") or []
    if qm:
        scores = [m.get("quality_score") for m in qm if m.get("quality_score") is not None]
        avg = sum(scores) / len(scores) if scores else 0.0
        n_viol = sum(len(m.get("threshold_violations") or []) for m in qm)
        print(
            f"quality: {len(qm)} tables, avg score {avg:.4f}, "
            f"{n_viol} threshold violations"
        )
        if args.detailed:
            for m in qm:
                for v in m.get("threshold_violations") or []:
                    print(
                        f"  {m['table_name']}: {v['metric']} "
                        f"{v['actual']:.4f} < {v['threshold']} [{v['severity']}]"
                    )
    if args.detailed:
        for t in tables:
            print(
                f"  {t['name']}: {len(t.get('columns', []))} cols, "
                f"{t.get('row_count')} rows"
            )
    return 0


def cmd_sql(args: argparse.Namespace) -> int:
    from .survey.export import to_sql_ddl

    _emit(to_sql_ddl(_load_doc(args), dialect=args.dialect), args.output)
    return 0


def cmd_diff(args: argparse.Namespace) -> int:
    """Schema drift between two survey documents (old, new)."""
    from .survey.drift import diff_schema_documents, drift_to_markdown
    from .survey.export import load_schema_json

    old = load_schema_json(args.old)
    new = load_schema_json(args.new)
    report = diff_schema_documents(
        old, new, rowcount_drift_min_rel=args.row_drift_min
    )
    if args.format == "json":
        _emit(json.dumps(report, indent=2, default=str), args.output)
    else:
        _emit(drift_to_markdown(report), args.output)
    return 2 if (report["has_changes"] and args.fail_on_change) else 0


def cmd_storage(args: argparse.Namespace) -> int:
    """Parquet layout / scan-parallelism hazard report for a lake dir."""
    from .survey.storage import storage_report, storage_to_markdown

    reports = storage_report(args.lake_dir)
    if args.format == "json":
        _emit(json.dumps(reports, indent=2), args.output)
    else:
        _emit(storage_to_markdown(reports), args.output)
    return 0


# The statistics profile the `profile` verb runs over a lake (each is an
# oracle-checked registry query; the verb is just presentation).
PROFILE_QUERIES = (
    "survey_top_values",
    "survey_numeric_quantiles",
    "survey_numeric_moments",
    "survey_correlation",
    "survey_string_stats",
    "survey_temporal_profile",
    "survey_join_cardinality",
    "quality_distribution_psi",
)


def cmd_profile(args: argparse.Namespace) -> int:
    """Data-statistics profile of a lake dir: most-common values, exact
    quantiles, distribution moments, and the correlation matrix — the
    deep-dive companion to `collect` (which records schema + quality)."""
    from .registry import queries as registry_queries

    spark = _get_spark()
    qs = registry_queries()
    out: dict[str, list] = {}
    for key in PROFILE_QUERIES:
        out[key] = [r.asDict() for r in qs[key](spark, args.lake_dir).collect()]
    if args.format == "json":
        _emit(json.dumps(out, indent=2, default=str), args.output)
    else:
        lines = []
        for key, rows in out.items():
            lines.append(f"## {key}")
            if rows:
                cols = list(rows[0])
                lines.append("| " + " | ".join(cols) + " |")
                lines.append("|" + "---|" * len(cols))
                for r in rows:
                    lines.append(
                        "| " + " | ".join(str(r[c]) for c in cols) + " |"
                    )
            lines.append("")
        _emit("\n".join(lines), args.output)
    return 0


def cmd_check(args: argparse.Namespace) -> int:
    """Run the declarative constraint suite (quality_rule_checks) over a
    lake dir; with --fail-on-violation exits 1 when any rule fails — the
    data-contract CI gate, symmetric with `diff --fail-on-change`."""
    from .survey.quality import quality_rule_checks

    spark = _get_spark()
    rows = [
        r.asDict()
        for r in quality_rule_checks(spark, args.lake_dir)
        .orderBy("table_name", "rule_name")
        .collect()
    ]
    failed = [r for r in rows if not r["passed"]]
    if args.format == "json":
        _emit(
            json.dumps(
                {"rules": rows, "failed": len(failed)}, indent=2, default=str
            ),
            args.output,
        )
    else:
        lines = ["| table | rule | rows | violations | rate | passed |",
                 "|---|---|---|---|---|---|"]
        for r in rows:
            lines.append(
                f"| {r['table_name']} | {r['rule_name']} | {r['n_rows']} "
                f"| {r['violations']} | {r['violation_rate']} "
                f"| {'yes' if r['passed'] else 'NO'} |"
            )
        lines.append("")
        lines.append(f"{len(failed)} rule(s) failed")
        _emit("\n".join(lines), args.output)
    if failed and getattr(args, "fail_on_violation", False):
        return 1
    return 0


def cmd_validate(args: argparse.Namespace) -> int:
    from .survey.export import validate_schema_doc

    problems = validate_schema_doc(_load_doc(args))
    if problems:
        for p in problems:
            print(f"INVALID: {p}")
        return 1
    print("valid")
    return 0


# ------------------------------------------------------------------- parser


def build_parser() -> argparse.ArgumentParser:
    from .security import REDACTION_MODES

    p = argparse.ArgumentParser(prog="dbsurveyor-spark")
    sub = p.add_subparsers(dest="command", required=True)

    c = sub.add_parser("collect", help="survey a source into a schema document")
    c.add_argument("source", help="lake dir or sqlite:///path.db")
    c.add_argument("-o", "--output", default="dbsurveyor.json")
    c.add_argument("--name", default=None)
    c.add_argument("--sample", type=int, default=0, metavar="N")
    c.add_argument("--redact-mode", choices=REDACTION_MODES, default="balanced")
    c.add_argument("--no-infer-keys", action="store_true")
    c.add_argument(
        "--enable-quality",
        action="store_true",
        help="attach TableQualityMetrics per table (two scans per table)",
    )
    # QualityConfig surface (reference quality/config.rs:79; defaults are
    # the reference's Default impl: Medium sensitivity, 0.95/0.98/0.90 mins)
    c.add_argument(
        "--sensitivity",
        choices=("low", "medium", "high"),
        default="medium",
        help="anomaly z-score sensitivity: low=3.0σ, medium=2.5σ, high=2.0σ",
    )
    c.add_argument("--completeness-min", type=float, default=0.95)
    c.add_argument("--uniqueness-min", type=float, default=0.98)
    c.add_argument("--consistency-min", type=float, default=0.90)
    c.add_argument(
        "--no-anomaly",
        action="store_true",
        help="skip the outlier-detection pass",
    )
    c.add_argument(
        "--compress",
        action="store_true",
        help="zstd-frame the JSON (.zst; gzip fallback if no zstd binding)",
    )
    c.add_argument("--encrypt", action="store_true")
    c.add_argument("--passphrase", default=None)
    c.add_argument(
        "--database",
        action="append",
        default=[],
        metavar="DIR",
        help="repeatable: survey several lake dirs into one server document",
    )
    c.add_argument(
        "--all-databases",
        action="store_true",
        help="treat SOURCE as a server root and survey every lake "
        "subdirectory found in it",
    )
    c.add_argument(
        "--include-system-databases",
        action="store_true",
        help="with --all-databases, include dot/underscore-prefixed dirs "
        "(checkpoints, scratch — the lake's template0/template1)",
    )
    c.add_argument(
        "--exclude-databases",
        action="append",
        default=[],
        metavar="NAMES",
        help="comma-separated database names to skip with --all-databases",
    )
    c.add_argument(
        "--throttle",
        type=int,
        default=None,
        metavar="MS",
        help="delay in milliseconds between per-database operations",
    )
    c.set_defaults(fn=cmd_collect)

    t = sub.add_parser("test", help="test a source connection")
    t.add_argument("source")
    t.set_defaults(fn=cmd_test)

    lt = sub.add_parser("list-types", help="list supported source types")
    lt.set_defaults(fn=cmd_list_types)

    g = sub.add_parser("generate", help="render a schema document")
    g.add_argument("input")
    g.add_argument(
        "--format", choices=("markdown", "mermaid", "sql", "json"), default="markdown"
    )
    g.add_argument("-o", "--output", default=None)
    g.add_argument("--passphrase", default=None)
    g.set_defaults(fn=cmd_generate)

    a = sub.add_parser("analyze", help="summarize a schema document")
    a.add_argument("input")
    a.add_argument("--detailed", action="store_true")
    a.add_argument("--passphrase", default=None)
    a.set_defaults(fn=cmd_analyze)

    s = sub.add_parser("sql", help="reconstruct DDL from a schema document")
    s.add_argument("input")
    s.add_argument(
        "--dialect",
        choices=("postgresql", "mysql", "sqlite", "sqlserver", "generic"),
        default="postgresql",
        help="target SQL dialect (reference declares this flag but ignores "
        "it; here the type mapping is real)",
    )
    s.add_argument("-o", "--output", default=None)
    s.add_argument("--passphrase", default=None)
    s.set_defaults(fn=cmd_sql)

    v = sub.add_parser("validate", help="validate a schema document")
    v.add_argument("input")
    v.add_argument("--passphrase", default=None)
    v.set_defaults(fn=cmd_validate)

    st = sub.add_parser(
        "storage", help="parquet layout & scan-parallelism hazard report"
    )
    st.add_argument("lake_dir")
    st.add_argument("--format", choices=("markdown", "json"), default="markdown")
    st.add_argument("--output", default=None)
    st.set_defaults(fn=cmd_storage)

    pr = sub.add_parser(
        "profile", help="data-statistics profile of a lake (values/moments)"
    )
    pr.add_argument("lake_dir")
    pr.add_argument("--format", choices=("markdown", "json"), default="markdown")
    pr.add_argument("--output", default=None)
    pr.set_defaults(fn=cmd_profile)

    ck = sub.add_parser(
        "check", help="run the declarative rule suite (exit 1 on violations)"
    )
    ck.add_argument("lake_dir")
    ck.add_argument("--format", choices=("markdown", "json"), default="markdown")
    ck.add_argument("--output", default=None)
    ck.add_argument(
        "--fail-on-violation",
        action="store_true",
        help="exit 1 when any rule fails (CI gate, like diff --fail-on-change)",
    )
    ck.set_defaults(fn=cmd_check)

    d = sub.add_parser("diff", help="schema drift between two documents")
    d.add_argument("old")
    d.add_argument("new")
    d.add_argument("--format", choices=("markdown", "json"), default="markdown")
    d.add_argument("--output", default=None)
    d.add_argument(
        "--row-drift-min",
        type=float,
        default=0.1,
        help="report row-count drift beyond this relative change",
    )
    d.add_argument(
        "--fail-on-change",
        action="store_true",
        help="exit 2 when drift is detected (CI gate)",
    )
    d.set_defaults(fn=cmd_diff)

    ix = sub.add_parser(
        "index",
        help="build / list persisted index artifacts (quantizers, graphs)",
    )
    ix.add_argument("action", choices=("build", "list", "gc"))
    ix.add_argument("lake_dir", nargs="*", default=[])
    ix.add_argument(
        "--store",
        default=None,
        help="artifact store dir (defaults to $DBSURVEYOR_INDEX_DIR)",
    )
    ix.set_defaults(fn=cmd_index)

    cp = sub.add_parser(
        "completions",
        help="emit a shell completion script (bash or zsh)",
    )
    cp.add_argument("shell", choices=("bash", "zsh"))
    cp.set_defaults(fn=cmd_completions)
    return p


# -------------------------------------------------------------- completions


def _parser_surface(p: argparse.ArgumentParser) -> dict[str, list[str]]:
    """verb → option strings, introspected from the live parser so the
    emitted script can never drift from the real CLI surface."""
    sub_action = next(
        a for a in p._actions if isinstance(a, argparse._SubParsersAction)
    )
    return {
        verb: sorted(
            opt
            for act in sp._actions
            for opt in act.option_strings
        )
        for verb, sp in sub_action.choices.items()
    }


def cmd_index(args: argparse.Namespace) -> int:
    """Index-artifact lifecycle (the Faiss write_index/read_index analog;
    see plans/index_store): ``index build <lake>`` trains/derives every
    persistable index (IVF centroids, PQ + residual-PQ codebooks, SQ
    residual bounds, k-NN graph, co-purchase graph, audio aligned pairs)
    and writes each to the store keyed by the lake's content fingerprint;
    ``index list`` prints the store inventory. A later session (or any
    engine run with DBSURVEYOR_INDEX_DIR set) warms its memos from these
    artifacts — zero training jobs."""
    from .plans import index_store

    if args.store:
        os.environ["DBSURVEYOR_INDEX_DIR"] = args.store
    if index_store.store_root() is None:
        print(
            "error: no store — pass --store DIR or set DBSURVEYOR_INDEX_DIR",
            file=sys.stderr,
        )
        return 1
    if args.action == "list":
        print(json.dumps(index_store.list_artifacts(), indent=2))
        return 0
    lakes = [d for d in args.lake_dir if os.path.isdir(d)]
    if not lakes or len(lakes) != len(args.lake_dir):
        print(
            f"error: index {args.action} requires existing lake "
            "director(y/ies)",
            file=sys.stderr,
        )
        return 1
    if args.action == "gc":
        # prune artifacts no CURRENT lake content addresses — the caller
        # names every lake to keep; anything else is unreferenced by
        # construction (content-fingerprint keys).
        pruned = index_store.gc_unreferenced(lakes)
        print(
            json.dumps(
                {
                    "store": index_store.store_root(),
                    "kept_lakes": lakes,
                    "pruned": pruned,
                    "pruned_bytes": sum(a["bytes"] for a in pruned),
                },
                indent=2,
            )
        )
        return 0
    from .multimodal.audio import aligned_pairs
    from .operators.graph import copurchase_graph
    from .operators.similarity import (
        knn_edges,
        trained_centroid_rows,
        trained_pq_codebooks,
        trained_residual_codebooks,
        trained_residual_sq_bounds,
    )

    spark = _get_spark()
    lake = lakes[0].rstrip("/")
    trained_centroid_rows(spark, lake)
    trained_pq_codebooks(spark, lake)
    trained_residual_codebooks(spark, lake)
    trained_residual_sq_bounds(spark, lake)
    knn_edges(spark, lake).count()
    half, deg = copurchase_graph(spark, lake)
    half.count()
    deg.count()
    aligned_pairs(spark, lake).count()
    from .operators.similarity import HYBRID_QUERIES
    from .operators.textstats import BM25_QUERIES, bm25_scores, qcls_model
    from .survey.sampling import dsir_log_ratio_rows

    # BM25 corpus statistics (both fixed workloads), the DSIR model, and
    # the trained quality classifier
    bm25_scores(spark, lake, BM25_QUERIES).count()
    bm25_scores(spark, lake, HYBRID_QUERIES).count()
    dsir_log_ratio_rows(spark, lake)
    qcls_model(spark, lake)
    arts = index_store.list_artifacts()
    print(
        json.dumps(
            {
                "store": index_store.store_root(),
                "lake": lake,
                "artifacts": arts,
                "total_bytes": sum(a["bytes"] for a in arts),
            },
            indent=2,
        )
    )
    return 0


def cmd_completions(args: argparse.Namespace) -> int:
    """Shell-completions verb (reference: dbsurveyor-collect/src/main.rs:156
    `Commands::Completions` via clap_complete; both reference binaries
    ship it). Static script generated from the parser itself."""
    surface = _parser_surface(build_parser())
    verbs = " ".join(surface)
    if args.shell == "bash":
        cases = "\n".join(
            f'        {verb}) opts="{" ".join(opts)}" ;;'
            for verb, opts in surface.items()
        )
        print(f"""# bash completion for dbsurveyor-spark
# install: eval "$(dbsurveyor-spark completions bash)"
_dbsurveyor_spark() {{
    local cur verb opts
    cur="${{COMP_WORDS[COMP_CWORD]}}"
    if [ "$COMP_CWORD" -eq 1 ]; then
        COMPREPLY=( $(compgen -W "{verbs}" -- "$cur") )
        return 0
    fi
    verb="${{COMP_WORDS[1]}}"
    case "$verb" in
{cases}
        *) opts="" ;;
    esac
    case "$cur" in
        -*) COMPREPLY=( $(compgen -W "$opts" -- "$cur") ) ;;
        *) COMPREPLY=( $(compgen -f -- "$cur") ) ;;
    esac
}}
complete -F _dbsurveyor_spark dbsurveyor-spark""")
    else:
        cases = "\n".join(
            f"        {verb}) _arguments '*: :({' '.join(opts)})' ;;"
            for verb, opts in surface.items()
        )
        print(f"""#compdef dbsurveyor-spark
# zsh completion for dbsurveyor-spark
# install: dbsurveyor-spark completions zsh > "${{fpath[1]}}/_dbsurveyor-spark"
_dbsurveyor_spark() {{
    if (( CURRENT == 2 )); then
        _values 'command' {verbs}
        return
    fi
    case "$words[2]" in
{cases}
        *) _files ;;
    esac
}}
_dbsurveyor_spark "$@\"""")
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
