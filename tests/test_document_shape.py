"""Every collector emits one document shape (`survey/export.py`).

The lake, SQLite, `docs:` and JDBC collectors all build their documents
through `schema_document`, `table_entry` and `table_sample`, so each level
of the document carries the same keys whatever the source, null where the
source does not know the value (models.rs DatabaseSchema / Table /
TableSample).
"""

from __future__ import annotations

import json
import os
import sqlite3

import pytest

from dbsurveyor_spark import cli
from dbsurveyor_spark.sources.jdbc_collect import collect_jdbc_schema
from dbsurveyor_spark.sources.ordering import order_columns
from dbsurveyor_spark.survey.export import validate_schema_doc

from .test_jdbc_collect import _stub_reader

SF = "/root/testdata/sf0.001"

ENVELOPE = {
    "format_version", "database_info", "tables", "views", "indexes",
    "constraints", "procedures", "functions", "triggers", "custom_types",
    "samples", "quality_metrics", "collection_metadata",
}
DATABASE_INFO = {
    "name", "version", "size_bytes", "encoding", "is_system_database",
    "access_level", "collection_status",
}
TABLE = {
    "name", "schema", "columns", "primary_key", "foreign_keys", "indexes",
    "constraints", "comment", "row_count", "ordering_strategy",
}
TABLE_SAMPLE = {
    "table_name", "schema_name", "rows", "sample_size", "total_rows",
    "sampling_strategy", "ordering_strategy", "collected_at", "warnings",
    "sample_status",
}


def _cli_doc(tmp_path, argv) -> dict:
    out = str(tmp_path / "doc.json")
    assert cli.main(["collect", *argv, "-o", out]) == 0
    return json.load(open(out))


def _lake(spark, tmp_path):
    return _cli_doc(tmp_path, [SF, "--sample", "5", "--enable-quality"])


def _sqlite(spark, tmp_path):
    path = str(tmp_path / "app.db")
    con = sqlite3.connect(path)
    con.executescript(
        """
        CREATE TABLE users (id INTEGER PRIMARY KEY, email TEXT);
        CREATE TABLE orders (
          order_id INTEGER PRIMARY KEY, user_id INTEGER REFERENCES users(id)
        );
        CREATE INDEX idx_orders_user ON orders(user_id);
        INSERT INTO users VALUES (1, 'a@x.com');
        INSERT INTO orders VALUES (10, 1);
        """
    )
    con.commit()
    con.close()
    return _cli_doc(tmp_path, [f"sqlite://{path}"])


def _docs(spark, tmp_path):
    lake = tmp_path / "docs"
    lake.mkdir()
    with open(os.path.join(lake, "users.jsonl"), "w") as f:
        for i in range(3):
            f.write(json.dumps({"_id": i, "email": f"u{i}@x.com"}) + "\n")
    with open(os.path.join(lake, "events.jsonl"), "w") as f:
        f.write(json.dumps({"kind": "click"}) + "\n")
    return _cli_doc(tmp_path, [f"docs:{lake}", "--sample", "2"])


def _jdbc(spark, tmp_path):
    base = _stub_reader(spark)

    def reader(sql):  # a server answering each sample query in its ORDER BY
        if sql.startswith('SELECT * FROM "public"."orders"'):
            return spark.createDataFrame([(11, 2), (10, 1)], "order_id long, user_id long")
        if sql.startswith("SELECT * FROM"):
            return spark.createDataFrame([(2, "b@x.com"), (1, "a@x.com")], "id long, email string")
        return base(sql)

    return collect_jdbc_schema(reader, "postgresql", sample_size=2)


COLLECTORS = pytest.mark.parametrize(
    "collect", [_lake, _sqlite, _docs, _jdbc], ids=lambda f: f.__name__[1:]
)


@pytest.fixture(scope="module")
def collected(spark, tmp_path_factory):
    """Each collector's document, collected once for the module."""
    docs = {}

    def get(collect):
        if collect not in docs:
            docs[collect] = collect(spark, tmp_path_factory.mktemp(collect.__name__[1:]))
        return docs[collect]

    return get


@COLLECTORS
def test_every_collector_emits_one_shape(collected, collect):
    doc = collected(collect)
    assert validate_schema_doc(doc) == []
    assert set(doc) == ENVELOPE
    assert set(doc["database_info"]) == DATABASE_INFO
    assert doc["tables"]
    for t in doc["tables"]:
        assert set(t) == TABLE, t["name"]
        if t["primary_key"]:
            (pk,) = [c for c in t["constraints"] if c["constraint_type"] == "PrimaryKey"]
            assert t["primary_key"]["name"] == pk["name"], t["name"]
    for s in doc["samples"] or []:
        assert set(s) == TABLE_SAMPLE, s["table_name"]
        assert s["sample_status"] == "Complete"
        assert all(isinstance(r, dict) for r in s["rows"])
        # every collector redacts under the default balanced mode
        assert all(r.get("email") in (None, "[REDACTED]") for r in s["rows"])


@COLLECTORS
def test_every_sample_follows_its_tables_ordering(collected, collect):
    """Each table records an OrderingStrategy, and its sample says the same
    strategy and is in that order: by `order_columns`, descending, or, for
    `Unordered`, a Random sample."""
    doc = collected(collect)
    ordering = {t["name"]: t["ordering_strategy"] for t in doc["tables"]}
    assert None not in ordering.values()
    for s in doc["samples"] or []:
        strategy = s["ordering_strategy"]
        assert strategy == ordering[s["table_name"]], s["table_name"]
        cols = order_columns(strategy)
        if cols:
            keys = [tuple(r[c] for c in cols) for r in s["rows"]]
            assert keys == sorted(keys, reverse=True), s["table_name"]
            assert set(s["sampling_strategy"]) == {"MostRecent"}
        else:
            assert set(s["sampling_strategy"]) == {"Random"}, s["table_name"]
