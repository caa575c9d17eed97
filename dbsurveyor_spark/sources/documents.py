"""Document-lake source: the MongoDB-adapter analog for schemaless JSON.

Parity: `dbsurveyor-core/src/adapters/mongodb/*` — the reference surveys a
schemaless document store by enumerating collections
(`enumeration.rs:99 list_databases / list_collections`), inferring a schema
from sampled documents (`schema_inference.rs:125 analyze_document`:
dot-notation nested fields, per-field type frequencies, mixed-type
tracking, nullability = absence-or-null, ordinal = first-discovery order),
mapping BSON types to the unified model (`type_mapping.rs:26
map_bson_to_unified`), detecting an ordering strategy from well-known
timestamp field names or `_id` (`sampling.rs:22 TIMESTAMP_FIELD_NAMES`,
`sampling.rs:48 detect_ordering_strategy`), and sampling MostRecent /
Random (`sampling.rs:137 sample_collection`).

No live MongoDB exists in this container, so the lake shape is the one a
100 TB pipeline actually has: directories of JSON-lines files, one
collection per file (a mongoexport/DocumentDB-dump layout). Everything the
reference does per-document in Rust is re-expressed as DataFrame plans,
and one kernel (`survey_collections`) surveys every collection at once:

- **One frame.** The lake is a union of one `spark.read.text` per file,
  each tagged with its collection name as a literal, so a filter on one
  name prunes the plan to that file. Each line is parsed once into a Spark
  VARIANT (`try_parse_json`); a line that does not parse is counted and
  reported as a warning, not surveyed.
- **One probe aggregate** per collection: document count, malformed-line
  count and the nesting depth of the deepest document, read from each
  document's `schema_of_variant` string. The depth is taken per document
  and not from `schema_of_variant_agg`, because the merged schema turns a
  path whose type differs between documents into `VARIANT` and so hides
  any object below it.
- **Schema inference is distributed**, not a driver-side sample walk.
  Nested fields are discovered with as many chained `variant_explode`
  lateral joins as the deepest collection nests (at most ``max_depth``;
  level N's object values feed level N+1 — one logical plan, no driver
  recursion), then a single groupBy(collection, path, type) →
  groupBy(collection, path) rollup computes occurrence counts, type
  frequencies, and the first-seen ordinal. State per field is O(1); the
  explode fan-out is bounded by document size, so the whole inference is
  a linear scan at any corpus size — the reference's 100-document sample
  loop can't see rare fields; this sees every one. The ordering strategy
  is read from the same rows (the root-level fields).
- **Mongo Extended JSON v2 wrappers** (`{"$oid": ...}`, `{"$date": ...}`,
  `{"$numberLong": ...}`, `{"$binary": ...}`, `{"$numberDecimal": ...}`)
  are recognized as scalar BSON types (objectId/date/int64/binData/
  decimal), mirroring `type_mapping.rs:26` — they classify as scalars and
  are not recursed into.
- **Sampling never global-sorts**: the samples of every collection are one
  union of per-collection `orderBy(...).limit(n)` frames, each planned as
  its own TakeOrderedAndProject (per-partition top-N + driver merge).
  MostRecent orders by the detected field descending; Random is the house
  deterministic md5-order sample, portable across engines.
"""

from __future__ import annotations

import json
import logging
import os
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .ordering import order_columns

log = logging.getLogger(__name__)

# sampling.rs:22 — field names that signal "order by this, descending" for
# MostRecent sampling.
TIMESTAMP_FIELD_NAMES = (
    "createdAt",
    "created_at",
    "updatedAt",
    "updated_at",
    "modifiedAt",
    "modified_at",
    "timestamp",
    "date",
    "insertedAt",
    "inserted_at",
)

_COLLECTION_EXTS = (".jsonl", ".ndjson", ".json")

# Extended JSON v2 single-key wrappers → BSON scalar type name
# (type_mapping.rs:26 map_bson_to_unified arms).
_EXT_JSON_TYPES = {
    "$oid": "objectId",
    "$date": "date",
    "$numberLong": "int64",
    "$numberInt": "int32",
    "$numberDouble": "double",
    "$numberDecimal": "decimal",
    "$binary": "binData",
    "$timestamp": "timestamp",
}

_COLL = "__collection"

# A backquoted name in a `schema_of_variant` string; a backquote inside the
# name is doubled. Names that need no quotes are plain identifiers, so every
# `<` or `>` outside these is a type bracket.
_QUOTED_NAME = r"`[^`]*(?:``[^`]*)*`"


def _classify_variant(value) -> Any:
    """BSON-ish type name for a VARIANT value (`type_mapping.rs:129
    bson_type_name` analog for JSON-encoded documents).

    Plain JSON only has string/number/bool/null/object/array; the number
    split (int64 vs double) follows what `schema_of_variant` reports, and
    Extended JSON wrapper objects are re-tagged as the scalar they encode.
    """
    sv = F.schema_of_variant(value)
    keys = F.json_object_keys(F.to_json(value))
    ext = F.lit(None).cast("string")
    for k, t in _EXT_JSON_TYPES.items():
        # a wrapper is the single key, or ($binary, …) for binData
        ext = F.when(F.array_contains(keys, k), F.lit(t)).otherwise(ext)
    return (
        F.when(sv == "VOID", F.lit("null"))
        .when(sv == "STRING", F.lit("string"))
        .when(sv == "BIGINT", F.lit("int64"))
        .when(sv == "BOOLEAN", F.lit("bool"))
        .when(sv.startswith("DECIMAL"), F.lit("double"))
        .when(sv.isin("DOUBLE", "FLOAT"), F.lit("double"))
        .when(sv.startswith("ARRAY"), F.lit("array"))
        .when(
            sv.startswith("OBJECT"),
            F.coalesce(ext, F.lit("object")),
        )
        .otherwise(F.lower(sv))
    )


def type_name_to_unified(type_name: str) -> Any:
    """`schema_inference.rs:240 type_name_to_unified` — BSON type name →
    UnifiedDataType tagged value (same encoding as survey/export.py)."""
    return {
        "string": {"String": {"max_length": None}},
        "int32": {"Integer": {"bits": 32, "signed": True}},
        "int64": {"Integer": {"bits": 64, "signed": True}},
        "double": {"Float": {"precision": 53}},
        "bool": "Boolean",
        "date": {"DateTime": {"with_timezone": True}},
        "timestamp": {"DateTime": {"with_timezone": True}},
        "binData": {"Binary": {"max_length": None}},
        "objectId": {"String": {"max_length": 24}},
        "object": "Json",
        "array": {"Array": {"element_type": {"Custom": {"type_name": "unknown"}}}},
        "decimal": {"Float": {"precision": 128}},
    }.get(type_name, {"Custom": {"type_name": type_name}})


# ------------------------------------------------------------------ kernel


def read_lines(spark: SparkSession, files: dict[str, str]) -> DataFrame:
    """`(__collection, doc variant, raw string)` for every non-blank line of
    ``files`` (collection name → path); a line that is not JSON keeps a
    null ``doc``. One `spark.read.text` per file, tagged with a literal, so
    a filter on ``__collection`` prunes the union to that file."""
    frames = [
        spark.read.text(path).select(F.lit(name).alias(_COLL), F.col("value"))
        for name, path in files.items()
    ]
    return (
        reduce(DataFrame.union, frames)
        .filter(F.trim("value") != "")
        .select(
            _COLL,
            F.try_parse_json(F.col("value")).alias("doc"),
            F.col("value").alias("raw"),
        )
    )


def _nesting_depth(brackets: Column, cap: int) -> Column:
    """``min(cap, nesting depth)`` of a string of balanced ``<``/``>``.

    Each pass of `replace(s, '<>', '')` removes every innermost pair, which
    lowers the deepest point by exactly one, so the depth is the number of
    passes before the string is empty.
    """
    depth = F.lit(0)
    for _ in range(cap):
        depth = depth + (F.length(brackets) > 0).cast("int")
        brackets = F.replace(brackets, F.lit("<>"), F.lit(""))
    return depth


def probe_collections(
    lines: DataFrame, max_depth: int
) -> dict[str, tuple[int, int, int]]:
    """collection → (documents, malformed lines, levels) in one aggregate.

    ``levels`` is the object and array nesting depth of the deepest
    document, capped at ``max_depth``: the explode levels the inference
    needs. Arrays and Extended JSON wrappers are not descended, so they can
    only over-count, which costs one empty level. A collection with no
    non-blank line has no row.
    """
    brackets = F.regexp_replace(
        F.regexp_replace(F.schema_of_variant("doc"), _QUOTED_NAME, ""),
        "[^<>]",
        "",
    )
    rows = (
        lines.select(_COLL, "doc", brackets.alias("__brackets"))
        .groupBy(_COLL)
        .agg(
            F.count("doc").alias("documents"),
            F.count_if(F.col("doc").isNull()).alias("malformed"),
            F.max(_nesting_depth(F.col("__brackets"), max_depth)).alias("levels"),
        )
        .collect()  # metadata-sized: one row per collection
    )
    return {
        r[_COLL]: (r["documents"], r["malformed"], r["levels"] or 0) for r in rows
    }


def infer_collection_schemas(
    docs: DataFrame,
    documents: dict[str, int],
    levels: int,
) -> tuple[dict[str, dict[str, Any]], dict[str, list[str]]]:
    """Distributed schema inference over a `(__collection, __doc_id, doc
    variant)` frame, every collection at once.

    Returns (collection → inferred schema, collection → root field names);
    ``documents`` holds each collection's document count. Mirrors
    `schema_inference.rs:125-233` (SchemaInferrer::analyze_document /
    finalize) field-for-field:

    - nested objects contribute dot-notation paths (arrays are typed but
      not descended, matching `analyze_document_fields`'s "not arrays of
      documents" rule);
    - ``observed_types`` is every type name seen for the field (sorted —
      the reference's HashMap iteration order is arbitrary);
    - the primary type is the most frequent non-null type (ties broken by
      name for determinism);
    - ``is_nullable`` = missing from some document OR an explicit null;
    - ``ordinal_position`` ranks fields by FIRST DISCOVERY in a
      depth-first scan of documents in corpus order — reproduced with a
      per-level zero-padded position path (parent "03" sorts before child
      "0300" before sibling "04") and `min(struct(doc_id, pos))`. One
      documented deviation: Spark's VARIANT canonicalizes object keys into
      sorted order, so within a single document fields discover in sorted
      key order rather than the JSON text's key order (JSON objects are
      unordered by spec; the reference's insertion-order ordinal is an
      artifact of BSON preserving it). Deterministic either way.

    The plan chains ``levels`` `variant_explode` lateral joins — the depth
    `probe_collections` measured, capped at ``max_depth`` the way the
    reference's call stack bounds its recursion — then two aggregation
    exchanges; no driver loops over data. With ``levels`` 0 no job runs.
    """
    schemas = {
        name: {"collection_name": name, "documents_sampled": n, "fields": []}
        for name, n in documents.items()
    }
    roots: dict[str, list[str]] = {name: [] for name in documents}
    if levels == 0:
        return schemas, roots
    spark = docs.sparkSession
    doc_id, path, value, pos = "__doc_id", "__path", "__value", "__pos"
    frontier = docs.select(
        F.col(_COLL),
        F.col(doc_id),
        F.lit("").alias(path),
        F.col("doc").alias(value),
        F.lit("").alias(pos),
    )
    fields: DataFrame | None = None
    for depth in range(1, levels + 1):
        typed = frontier.withColumn("__type", _classify_variant(F.col(value)))
        exploded = typed.filter(F.col("__type") == "object").lateralJoin(
            spark.tvf.variant_explode(F.col(value).outer())
        )
        frontier = exploded.select(
            F.col(_COLL),
            F.col(doc_id),
            F.when(F.col(path) == "", F.col("key"))
            .otherwise(F.concat_ws(".", path, "key"))
            .alias(path),
            F.col("value").alias(value),
            F.concat(F.col(pos), F.lpad(F.col("pos"), 4, "0")).alias(pos),
        )
        level = frontier.select(
            _COLL,
            doc_id,
            path,
            pos,
            _classify_variant(F.col(value)).alias("__type"),
            F.lit(depth).alias("__depth"),
        )
        fields = level if fields is None else fields.union(level)

    per_type = fields.groupBy(_COLL, path, "__type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct(doc_id, pos)).alias("first_seen"),
        F.min("__depth").alias("depth"),
    )
    stats = (
        per_type.groupBy(_COLL, path)
        .agg(
            F.sum("n").alias("occurrences"),
            F.min("first_seen").alias("first_seen"),
            F.sort_array(F.collect_list("__type")).alias("observed_types"),
            # dominant non-null type: max over (count, reversed-name) —
            # deterministic tie-break, nulls never win unless alone
            F.max_by(
                "__type",
                F.when(
                    F.col("__type") != "null", F.struct(F.col("n"), F.col("__type"))
                ),
            ).alias("primary_type"),
            F.min("depth").alias("depth"),
        )
    )
    # metadata-sized: one row per distinct (collection, field path), put in
    # discovery order here rather than by a Spark sort
    for r in sorted(stats.collect(), key=lambda r: (r[_COLL], r["first_seen"])):
        name = r[_COLL]
        out = schemas[name]["fields"]
        primary = r["primary_type"] or "null"
        out.append(
            {
                "name": r[path],
                "observed_types": list(r["observed_types"]),
                "unified_type": type_name_to_unified(primary),
                "occurrence_count": r["occurrences"],
                "is_nullable": r["occurrences"] < documents[name]
                or "null" in r["observed_types"],
                "ordinal_position": len(out) + 1,
            }
        )
        if r["depth"] == 1:
            roots[name].append(r[path])
    return schemas, roots


def _sample_order(strategy: Any) -> Column:
    """Sort key of one collection's sample: the detected field's JSON
    encoding descending (ISO-8601 `$date` wrappers and ObjectId hex both
    sort correctly as strings), else the deterministic md5 order."""
    cols = order_columns(strategy)
    if not cols:
        return F.md5(F.col("raw"))
    return F.to_json(F.try_variant_get(F.col("doc"), f"$.{cols[0]}", "variant")).desc()


def _sample_frame(lines: DataFrame, strategies: dict[str, Any], n: int) -> DataFrame:
    """`(__collection, j)`: up to ``n`` JSON documents of each collection in
    ``strategies`` (collection → ordering strategy), in sample order.

    One `orderBy(...).limit(n)` per collection, unioned: each branch plans
    as its own TakeOrderedAndProject (per-partition top-N + driver merge),
    so nothing sorts the whole lake and one action takes every sample.
    """
    branches = [
        lines.filter((F.col(_COLL) == name) & F.col("doc").isNotNull())
        .orderBy(_sample_order(strategy))
        .limit(n)
        .select(_COLL, F.to_json("doc").alias("j"))
        for name, strategy in strategies.items()
    ]
    return reduce(DataFrame.union, branches)


def survey_collections(
    spark: SparkSession,
    files: dict[str, str],
    max_depth: int = 8,
    sample: int = 0,
) -> list[dict[str, Any]]:
    """Survey the collections in ``files`` (name → path) together.

    One entry per collection, in ``files`` order: ``name``, ``documents``,
    ``malformed`` (lines that are not JSON), ``schema`` (the inferred
    schema), ``ordering_strategy`` and ``rows`` (up to ``sample`` parsed
    documents in sample order, unredacted). Three actions at most,
    whatever the number of collections: the probe, the inference and, with
    ``sample``, the samples.
    """
    if not files:  # spark.read.text([]) raises
        return []
    lines = read_lines(spark, files)
    probe = probe_collections(lines, max_depth)
    counts = {name: probe.get(name, (0, 0, 0)) for name in files}
    documents = {name: c[0] for name, c in counts.items()}
    docs = lines.filter(F.col("doc").isNotNull()).select(
        _COLL, F.monotonically_increasing_id().alias("__doc_id"), "doc"
    )
    schemas, roots = infer_collection_schemas(
        docs, documents, max(c[2] for c in counts.values())
    )
    strategies = {name: detect_ordering_strategy(roots[name]) for name in files}
    rows: dict[str, list[dict]] = {name: [] for name in files}
    non_empty = {name: s for name, s in strategies.items() if documents[name]}
    if sample > 0 and non_empty:
        for r in _sample_frame(lines, non_empty, sample).collect():
            rows[r[_COLL]].append(json.loads(r["j"]))
    return [
        {
            "name": name,
            "documents": counts[name][0],
            "malformed": counts[name][1],
            "schema": schemas[name],
            "ordering_strategy": strategies[name],
            "rows": rows[name],
        }
        for name in files
    ]


def _table_sample(c: dict[str, Any], limit: int, redact_mode: str) -> dict[str, Any]:
    """`sampling.rs:137 sample_collection`'s TableSample of one surveyed
    collection."""
    from ..survey.export import table_sample

    return table_sample(
        c["name"],
        c["rows"],
        limit,
        redact_mode,
        total_rows=c["documents"],
        ordering_strategy=c["ordering_strategy"],
    )


def inferred_to_columns(schema: dict[str, Any]) -> list[dict[str, Any]]:
    """`schema_inference.rs:59 InferredSchema::to_columns` — Column dicts
    in the export-document shape; `_id` is PK + auto-generated; mixed-type
    fields carry the "Mixed types: …" comment."""
    out = []
    for f in schema["fields"]:
        non_dup = [t for t in dict.fromkeys(f["observed_types"])]
        out.append(
            {
                "name": f["name"],
                "data_type": f["unified_type"],
                "is_nullable": f["is_nullable"],
                "is_primary_key": f["name"] == "_id",
                "is_auto_increment": f["name"] == "_id",
                "default_value": None,
                "comment": (
                    f"Mixed types: {', '.join(non_dup)}" if len(non_dup) > 1 else None
                ),
                "ordinal_position": f["ordinal_position"],
            }
        )
    return out


def detect_ordering_strategy(root_fields: list[str]) -> dict[str, Any]:
    """`sampling.rs:48 detect_ordering_strategy` — timestamp field names
    beat `_id` (ObjectId embeds a timestamp) beat Unordered."""
    for name in TIMESTAMP_FIELD_NAMES:
        if name in root_fields:
            return {
                "Timestamp": {"column": name, "direction": "Descending"}
            }
    if "_id" in root_fields:
        return {"PrimaryKey": {"columns": ["_id"]}}
    return "Unordered"


class DocumentLakeSource:
    """One directory of JSON-lines collections (`<name>.jsonl`), surveyed
    like the reference surveys one MongoDB database. Every method runs the
    `survey_collections` kernel (or its first stage) on all collections or
    on one."""

    def __init__(self, path: str):
        if not os.path.isdir(path):
            raise ValueError(f"document lake path is not a directory: {path}")
        self.path = path

    # -------------------------------------------------------- enumeration

    def collection_files(self) -> dict[str, str]:
        out = {}
        for entry in sorted(os.listdir(self.path)):
            full = os.path.join(self.path, entry)
            stem, ext = os.path.splitext(entry)
            if os.path.isfile(full) and ext in _COLLECTION_EXTS:
                out[stem] = full
        return out

    def _one(self, name: str) -> dict[str, str]:
        file = self.collection_files().get(name)
        if file is None:
            raise KeyError(f"no such collection: {name}")
        return {name: file}

    def list_collections(self, spark: SparkSession) -> list[dict[str, Any]]:
        """`enumeration.rs:163 list_collections` — name, document count,
        size, average document size; one probe aggregate for the lake."""
        files = self.collection_files()
        probe = probe_collections(read_lines(spark, files), 0) if files else {}
        out = []
        for name, file in files.items():
            n = probe.get(name, (0, 0, 0))[0]
            size = os.path.getsize(file)
            out.append(
                {
                    "name": name,
                    "collection_type": "collection",
                    "document_count": n,
                    "size_bytes": size,
                    "avg_document_size": (size // n) if n else None,
                    "index_count": None,
                    "is_capped": False,
                }
            )
        return out

    # -------------------------------------------------------------- reads

    def read_collection(self, spark: SparkSession, name: str) -> DataFrame:
        """`(__doc_id, doc variant, raw string)` frame of one collection's
        documents; lines that are not JSON are left out (the reference's
        cursor deserialization failure analog, minus the hard error)."""
        return (
            read_lines(spark, self._one(name))
            .filter(F.col("doc").isNotNull())
            .select(F.monotonically_increasing_id().alias("__doc_id"), "doc", "raw")
        )

    # ------------------------------------------------ one-collection views

    def infer_schema(
        self, spark: SparkSession, name: str, max_depth: int = 8
    ) -> dict[str, Any]:
        (c,) = survey_collections(spark, self._one(name), max_depth=max_depth)
        return c["schema"]

    def sample_collection(
        self, spark: SparkSession, name: str, sample_size: int = 100
    ) -> dict[str, Any]:
        """`sampling.rs:137 sample_collection` — one collection's
        TableSample, its documents redacted under the default (balanced)
        mode.

        Unordered collections take the deterministic md5-order random
        sample (portable, reproducible — where the reference's `$sample`
        stage explicitly is not; it logs that as a warning, we simply
        don't have the problem).
        """
        (c,) = survey_collections(spark, self._one(name), sample=sample_size)
        return _table_sample(c, sample_size, "balanced")

    # ------------------------------------------------------------- survey

    def survey(
        self,
        spark: SparkSession,
        name: str | None = None,
        max_depth: int = 8,
        sample: int = 0,
        redact_mode: str = "balanced",
    ) -> dict[str, Any]:
        """Whole-lake schema document (the analog of `mod.rs:449`'s collect
        surface), built by `survey.export.schema_document`. A collection
        with an `_id` field has it as primary key. With ``sample`` > 0,
        ``samples`` holds up to that many documents of each collection,
        redacted under ``redact_mode``. Malformed lines are logged and
        named in the warnings."""
        import time

        from ..survey.export import schema_document, table_entry

        t_start = time.monotonic()
        files = self.collection_files()
        surveyed = survey_collections(spark, files, max_depth=max_depth, sample=sample)
        tables = [
            table_entry(
                c["name"],
                inferred_to_columns(c["schema"]),
                ["_id"] if any(f["name"] == "_id" for f in c["schema"]["fields"]) else [],
                [],
                indexes=[],
                row_count=c["documents"],
                ordering_strategy=c["ordering_strategy"],
            )
            for c in surveyed
        ]
        malformed = [
            f"{c['name']}: {c['malformed']} malformed JSON "
            f"line{'s' if c['malformed'] > 1 else ''} skipped"
            for c in surveyed
            if c["malformed"]
        ]
        for w in malformed:
            log.warning(w)
        return schema_document(
            name or os.path.basename(self.path.rstrip("/")),
            tables,
            t_start,
            size_bytes=sum(os.path.getsize(f) for f in files.values()),
            samples=[_table_sample(c, sample, redact_mode) for c in surveyed]
            if sample > 0
            else None,
            warnings=malformed,
        )
