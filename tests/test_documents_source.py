"""Document-lake (MongoDB-analog) adapter tests.

Mirrors the reference's own test matrix for the mongodb adapter
(`adapters/mongodb/schema_inference.rs #[cfg(test)]`: basic / multiple
documents / nested / array / mixed types / to_columns;
`sampling.rs`: ordering detection; `enumeration.rs`: collection listing),
plus the export-document integration the reference exercises in
`mongodb_schema_collection.rs`.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from dbsurveyor_spark.sources.documents import (
    _EXT_JSON_TYPES,
    DocumentLakeSource,
    detect_ordering_strategy,
    inferred_to_columns,
    probe_collections,
    read_lines,
    survey_collections,
    type_name_to_unified,
)

from .conftest import jobs_in_window

# a docs: collect with samples runs the probe, the inference and the
# samples; AQE runs each shuffle stage as a job of its own
MAX_COLLECT_JOBS = 8


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    d = tmp_path_factory.mktemp("doclake")

    def write(name, docs):
        with open(os.path.join(d, f"{name}.jsonl"), "w") as f:
            for doc in docs:
                f.write(json.dumps(doc) + "\n")

    oid = lambda c: {"$oid": c * 24}  # noqa: E731
    date = lambda s: {"$date": s}  # noqa: E731
    write(
        "users",
        [
            {
                "_id": oid("a"),
                "name": "John",
                "age": 30,
                "profile": {"firstName": "John", "lastName": "Doe"},
                "createdAt": date("2024-01-02T00:00:00Z"),
            },
            {
                "_id": oid("b"),
                "name": "Jane",
                "email": "jane@example.com",
                "tags": ["a", "b"],
                "createdAt": date("2024-01-03T00:00:00Z"),
            },
            {
                "_id": oid("c"),
                "name": 42,  # mixed type
                "age": None,  # explicit null
                "createdAt": date("2024-01-01T00:00:00Z"),
            },
        ],
    )
    write("articles", [{"_id": oid("d"), "n": i} for i in range(5)])
    write("unordered", [{"x": 1}, {"x": 2}, {"x": 3}])
    # a malformed line must be skipped, not fail the survey
    with open(os.path.join(d, "users.jsonl"), "a") as f:
        f.write("{not json\n")
    return str(d)


@pytest.fixture(scope="module")
def users_schema(spark, lake):
    return DocumentLakeSource(lake).infer_schema(spark, "users")


def field(schema, name):
    return next(f for f in schema["fields"] if f["name"] == name)


def test_enumeration(spark, lake):
    src = DocumentLakeSource(lake)
    cols = {c["name"]: c for c in src.list_collections(spark)}
    assert set(cols) == {"users", "articles", "unordered"}
    assert cols["articles"]["document_count"] == 5
    assert cols["articles"]["size_bytes"] > 0
    assert cols["articles"]["avg_document_size"] > 0


def test_bad_path_rejected():
    with pytest.raises(ValueError):
        DocumentLakeSource("/nonexistent/dir")


def test_malformed_lines_skipped(spark, lake):
    # 3 valid docs + 1 junk line → 3 parsed documents
    n = DocumentLakeSource(lake).read_collection(spark, "users").count()
    assert n == 3


def test_nested_dot_notation(users_schema):
    # schema_inference.rs test_schema_inferrer_nested_document
    names = {f["name"] for f in users_schema["fields"]}
    assert {"profile", "profile.firstName", "profile.lastName"} <= names


def test_nullability(users_schema):
    # schema_inference.rs test_schema_inferrer_multiple_documents:
    # absent-in-some-docs and explicit-null both ⇒ nullable
    assert field(users_schema, "email")["is_nullable"]
    assert field(users_schema, "age")["is_nullable"]
    assert "null" in field(users_schema, "age")["observed_types"]
    # present in every document, never null ⇒ required
    assert not field(users_schema, "name")["is_nullable"]
    assert not field(users_schema, "_id")["is_nullable"]


def test_mixed_types_tracked(users_schema):
    # schema_inference.rs test_schema_inferrer_mixed_types: the dominant
    # type wins the unified mapping, all observed types are recorded
    f = field(users_schema, "name")
    assert sorted(f["observed_types"]) == ["int64", "string"]
    assert f["unified_type"] == {"String": {"max_length": None}}


def test_extended_json_scalars(users_schema):
    # type_mapping.rs: ObjectId → String{24}, DateTime → tz-aware; the
    # wrappers classify as scalars and are NOT descended into
    assert field(users_schema, "_id")["observed_types"] == ["objectId"]
    assert field(users_schema, "_id")["unified_type"] == {
        "String": {"max_length": 24}
    }
    assert field(users_schema, "createdAt")["observed_types"] == ["date"]
    names = {f["name"] for f in users_schema["fields"]}
    assert "_id.$oid" not in names and "createdAt.$date" not in names


def test_array_typed_not_descended(users_schema):
    # analyze_document_fields recurses into documents "but not arrays"
    f = field(users_schema, "tags")
    assert f["observed_types"] == ["array"]
    assert "Array" in f["unified_type"]


def test_ordinal_positions_contiguous(users_schema):
    ords = sorted(f["ordinal_position"] for f in users_schema["fields"])
    assert ords == list(range(1, len(ords) + 1))
    # parent discovers before its children (depth-first pos-path ordering)
    assert (
        field(users_schema, "profile")["ordinal_position"]
        < field(users_schema, "profile.firstName")["ordinal_position"]
    )


def test_to_columns(users_schema):
    # schema_inference.rs test_to_columns: _id is PK + auto-generated;
    # mixed-type fields carry the comment
    cols = {c["name"]: c for c in inferred_to_columns(users_schema)}
    assert cols["_id"]["is_primary_key"] and cols["_id"]["is_auto_increment"]
    assert not cols["name"]["is_primary_key"]
    assert cols["name"]["comment"] == "Mixed types: int64, string"
    # null is an observed type (record_field counts Bson::Null), so a
    # sometimes-null field is "mixed" exactly as in the reference
    assert cols["age"]["comment"] == "Mixed types: int64, null"
    assert cols["createdAt"]["comment"] is None


def test_type_name_to_unified():
    assert type_name_to_unified("string") == {"String": {"max_length": None}}
    assert type_name_to_unified("int32") == {
        "Integer": {"bits": 32, "signed": True}
    }
    assert type_name_to_unified("bool") == "Boolean"
    assert type_name_to_unified("objectId") == {"String": {"max_length": 24}}
    assert type_name_to_unified("weird") == {"Custom": {"type_name": "weird"}}


def test_detect_ordering_strategy():
    # sampling.rs:48 — timestamp field beats _id beats Unordered
    assert detect_ordering_strategy(["_id", "createdAt"]) == {
        "Timestamp": {"column": "createdAt", "direction": "Descending"}
    }
    assert detect_ordering_strategy(["_id", "x"]) == {
        "PrimaryKey": {"columns": ["_id"]}
    }
    assert detect_ordering_strategy(["x", "y"]) == "Unordered"


def test_sample_most_recent(spark, lake):
    s = DocumentLakeSource(lake).sample_collection(spark, "users", 2)
    assert s["sampling_strategy"] == {"MostRecent": {"limit": 2}}
    assert s["ordering_strategy"] == {
        "Timestamp": {"column": "createdAt", "direction": "Descending"}
    }
    # newest-first by createdAt
    names = [r["name"] for r in s["rows"]]
    assert names == ["Jane", "John"]
    assert s["total_rows"] == 3 and s["sample_size"] == 2


def test_sample_random_deterministic(spark, lake):
    src = DocumentLakeSource(lake)
    s1 = src.sample_collection(spark, "unordered", 2)
    s2 = src.sample_collection(spark, "unordered", 2)
    assert s1["sampling_strategy"] == {"Random": {"limit": 2}}
    assert s1["rows"] == s2["rows"]  # md5-order: reproducible by design


def test_sample_short_collection_warns(spark, lake):
    s = DocumentLakeSource(lake).sample_collection(spark, "unordered", 50)
    assert s["sample_size"] == 3
    assert any("less than requested" in w for w in s["warnings"])


def test_survey_document_validates(spark, lake):
    from dbsurveyor_spark.survey.export import (
        to_markdown,
        to_reference_document,
        validate_schema_doc,
    )

    doc = DocumentLakeSource(lake).survey(spark, name="mydocs")
    assert validate_schema_doc(doc) == []
    assert {t["name"] for t in doc["tables"]} == {
        "users",
        "articles",
        "unordered",
    }
    users = next(t for t in doc["tables"] if t["name"] == "users")
    assert users["primary_key"] == {"name": "pk_users", "columns": ["_id"]}
    assert users["row_count"] == 3
    unord = next(t for t in doc["tables"] if t["name"] == "unordered")
    assert unord["primary_key"] is None
    # the junk line in users.jsonl is reported; clean collections add nothing
    assert [w for w in doc["collection_metadata"]["warnings"] if "malformed" in w] == [
        "users: 1 malformed JSON line skipped"
    ]
    # downstream writers accept the document unchanged
    ref = to_reference_document(doc)
    assert ref["database_info"]["name"] == "mydocs"
    assert "users" in to_markdown(doc)


def test_cli_collect_docs(spark, lake, tmp_path):
    from dbsurveyor_spark import cli
    from dbsurveyor_spark.survey.export import load_schema_json

    out = str(tmp_path / "docs.json")
    rc = cli.main(
        ["collect", f"docs:{lake}", "-o", out, "--name", "clidocs", "--sample", "2"]
    )
    assert rc == 0
    doc = load_schema_json(out)
    assert doc["database_info"]["name"] == "clidocs"
    assert len(doc["samples"]) == 3
    users_sample = next(
        s for s in doc["samples"] if s["table_name"] == "users"
    )
    assert users_sample["sample_size"] == 2


def test_cli_test_docs(lake, capsys):
    from dbsurveyor_spark import cli

    assert cli.main(["test", f"docs:{lake}"]) == 0
    assert "3 collections" in capsys.readouterr().out
    assert cli.main(["test", "docs:/nonexistent"]) == 1


# ------------------------------------------------------------- edge inputs


def _edge_lake(root, kind):
    d = os.path.join(root, kind)
    os.makedirs(d)
    if kind == "empty_file":
        open(os.path.join(d, "users.jsonl"), "w").close()
    elif kind == "malformed_only":
        with open(os.path.join(d, "junk.jsonl"), "w") as f:
            f.write("{not json\n[1,\n\n")
    return d


@pytest.mark.parametrize("kind", ["empty_lake", "empty_file", "malformed_only"])
def test_edge_inputs_survive_the_pipeline(spark, tmp_path, kind):
    from dbsurveyor_spark import cli

    lake = _edge_lake(str(tmp_path), kind)
    out = str(tmp_path / "doc.json")
    for argv in (
        ["collect", f"docs:{lake}", "--sample", "3", "-o", out],
        ["validate", out],
        ["generate", out, "--format", "markdown", "-o", out + ".md"],
        ["sql", out, "-o", out + ".sql"],
    ):
        assert cli.main(argv) == 0, argv
    doc = json.load(open(out))
    if kind == "empty_lake":
        assert doc["tables"] == [] and doc["samples"] == []
        return
    (table,) = doc["tables"]
    assert table["row_count"] == 0 and table["columns"] == []
    (sample,) = doc["samples"]
    assert sample["sample_size"] == 0 and sample["rows"] == []
    assert any("less than requested" in w for w in sample["warnings"])
    if kind == "malformed_only":
        assert "junk: 2 malformed JSON lines skipped" in (
            doc["collection_metadata"]["warnings"]
        )


def test_zero_row_table_may_have_no_columns():
    from dbsurveyor_spark.survey.export import FORMAT_VERSION, validate_schema_doc

    def doc(row_count):
        table = {"name": "t", "columns": [], "primary_key": None, "row_count": row_count}
        return {
            "format_version": FORMAT_VERSION,
            "database_info": {"name": "d"},
            "tables": [table],
        }

    assert validate_schema_doc(doc(0)) == []
    assert validate_schema_doc(doc(5)) == ["table 't' has no columns"]
    assert validate_schema_doc(doc(None)) == ["table 't' has no columns"]


# ----------------------------------- inference against a walker of the reference


def _bson_type(v):
    """`type_mapping.rs` type name of a decoded JSON value."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int64"
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    wrappers = [t for k, t in _EXT_JSON_TYPES.items() if k in v]
    return wrappers[-1] if wrappers else "object"


def walk_schema(docs, max_depth=8):
    """(fields, object depth) of ``docs`` by `schema_inference.rs:125
    analyze_document`: each document depth-first in corpus order, keys in
    sorted order (the VARIANT canonical order), recursing into objects but
    not into arrays or Extended JSON wrappers, to ``max_depth`` levels."""
    seen: dict[str, dict[str, int]] = {}  # path → type → count, in discovery order
    deepest = 0

    def visit(obj, prefix, level):
        nonlocal deepest
        deepest = max(deepest, level)
        for key in sorted(obj):
            path = f"{prefix}.{key}" if prefix else key
            t = _bson_type(obj[key])
            types = seen.setdefault(path, {})
            types[t] = types.get(t, 0) + 1
            if t == "object" and level < max_depth:
                visit(obj[key], path, level + 1)

    for doc in docs:
        visit(doc, "", 1)
    fields = []
    for i, (path, types) in enumerate(seen.items()):
        non_null = [(n, t) for t, n in types.items() if t != "null"]
        fields.append(
            {
                "name": path,
                "observed_types": sorted(types),
                "unified_type": type_name_to_unified(max(non_null)[1] if non_null else "null"),
                "is_nullable": sum(types.values()) < len(docs) or "null" in types,
                "ordinal_position": i + 1,
            }
        )
    return fields, deepest


def _nested(depth):
    doc = {"v": 1}
    for i in range(depth - 1):
        doc = {f"k{i}": doc, "s": i}
    return doc


SHAPES = {
    "deep5": [
        {"a": {"b": {"c": {"d": {"e": 1}}}}, "z": 1},
        {"a": {"b": {"c": "flat"}}, "y": None},
        {"a": {"b": {"c": {"d": {"e": "x", "f": True}}}}},
    ],
    "odd_keys": [
        {"x.y": 1, "a<b>": {"c d": 2, "q`r": True, "`": {"<": 1.5}}, "sp ace": None},
        {"x.y": "s", "a<b>": {"c d": None}, "> `>`": {"``": 3}},
    ],
    "arrays": [
        {"items": [{"k": 1}, {"k": {"deep": 2}}], "tags": ["a"], "m": [[{"x": 1}]]},
        {"items": [], "n": {"inner": [{"z": 1}]}},
    ],
    "wrappers": [
        {
            "_id": {"$oid": "a" * 24},
            "meta": {"at": {"$date": "2024-01-01T00:00:00Z"}, "n": {"$numberLong": "5"}},
        },
        {"_id": {"$oid": "b" * 24}, "meta": {"at": None, "tags": {"k": "v"}}},
    ],
    # an object in one document and a string in another: a merged
    # schema_of_variant_agg reports the path as VARIANT, hiding a.b.c
    "conflict": [{"a": "x"}, {"a": {"b": {"c": 1}}}],
    "deep10": [_nested(10), {"s": 0}],
    "empty_object": [{"e": {}}, {"e": {"f": 1}}],
}


@pytest.fixture(scope="module")
def shapes(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("shapes")
    for name, docs in SHAPES.items():
        with open(os.path.join(d, f"{name}.jsonl"), "w") as f:
            f.write("".join(json.dumps(doc) + "\n" for doc in docs))
    files = DocumentLakeSource(str(d)).collection_files()
    surveyed = {c["name"]: c for c in survey_collections(spark, files)}
    return files, surveyed


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_inference_matches_reference_walker(shapes, name):
    _, surveyed = shapes
    want, _ = walk_schema(SHAPES[name])
    keys = ("name", "observed_types", "unified_type", "is_nullable", "ordinal_position")
    got = [{k: f[k] for k in keys} for f in surveyed[name]["schema"]["fields"]]
    assert got == want


def test_ten_deep_document_stops_at_max_depth(shapes):
    _, surveyed = shapes
    names = [f["name"] for f in surveyed["deep10"]["schema"]["fields"]]
    # eight levels of keys; the eighth-level object is typed, not descended
    assert max(n.count(".") for n in names) == 7
    eighth = next(f for f in surveyed["deep10"]["schema"]["fields"] if f["name"].endswith(".k1"))
    assert eighth["name"].count(".") == 7 and eighth["observed_types"] == ["object"]


def _container_depth(value):
    children = value.values() if isinstance(value, dict) else value
    if not isinstance(value, (dict, list)):
        return 0
    return 1 + max(map(_container_depth, children), default=0)


def test_depth_probe_bounds(spark, shapes):
    # at least the object depth the walker descends (never too shallow),
    # at most the object-and-array depth (names never add levels)
    files, _ = shapes
    probe = probe_collections(read_lines(spark, files), 8)
    for name, docs in SHAPES.items():
        documents, malformed, levels = probe[name]
        assert (documents, malformed) == (len(docs), 0)
        deepest = max(map(_container_depth, docs))
        assert min(8, walk_schema(docs)[1]) <= levels <= min(8, deepest), name


# ------------------------------------------------------- jobs and plan shape


def test_collect_job_count_guard(spark, lake, tmp_path):
    from dbsurveyor_spark import cli

    out = str(tmp_path / "docs.json")
    rc = []
    every, grouped = jobs_in_window(
        spark,
        "documents-test-collect",
        lambda: rc.append(cli.main(["collect", f"docs:{lake}", "--sample", "2", "-o", out])),
    )
    assert rc == [0]
    assert len(json.load(open(out))["samples"]) == 3
    assert every == grouped
    assert len(grouped) <= MAX_COLLECT_JOBS, len(grouped)


def test_samples_plan_one_top_n_per_collection(spark, tmp_path, monkeypatch):
    n_docs, sample = 300, 4
    for name in ("alpha", "beta"):
        with open(tmp_path / f"{name}.jsonl", "w") as f:
            for i in range(n_docs):
                f.write(json.dumps({"_id": i, "v": {"w": i % 7}}) + "\n")
    frame_cls = type(spark.range(1))
    collect = frame_cls.collect
    seen = []  # (physical plan, rows returned) of every collect()

    def spy(self):
        rows = collect(self)
        seen.append((self._jdf.queryExecution().executedPlan().toString(), len(rows)))
        return rows

    monkeypatch.setattr(frame_cls, "collect", spy)
    doc = DocumentLakeSource(str(tmp_path)).survey(spark, sample=sample)
    monkeypatch.undo()

    assert [s["sample_size"] for s in doc["samples"]] == [sample, sample]
    top_n = [plan for plan, _ in seen if "TakeOrderedAndProject" in plan]
    assert len(top_n) == 1
    assert top_n[0].count("TakeOrderedAndProject") == 2
    for plan, _ in seen:
        # a global sort prints as `Sort [keys], true, n`; the inference's
        # sort aggregate only sorts within partitions (`false`)
        assert not re.search(r"\bSort \[.*\], true, \d", plan), plan
    # only metadata-sized rows and the samples reach the driver: one probe
    # row per collection, one row per field, the sample rows
    n_fields = sum(len(t["columns"]) for t in doc["tables"])
    assert sorted(n for _, n in seen) == sorted([2, n_fields, 2 * sample])
