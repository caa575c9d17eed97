"""The one-scan lake survey (survey.lakescan) behind ``collect``.

Every fact the document records is checked against DuckDB over the same
files, not against the engine: row counts, null counts, the PK/FK oracles
of the registry, outlier counts and the sample heads. Edge cases: a
zero-row table, an all-null key column, a lake with nothing for quality
pass 2 to check, a partial catalog lake, zero-byte and unreadable tables,
tables written as directories. The scan's jobs must all carry
the caller's Spark job group, and its job count stays bounded.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from types import SimpleNamespace

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dbsurveyor_spark import cli, registry
from dbsurveyor_spark.catalog import TABLES, table_path
from dbsurveyor_spark.survey import profile
from dbsurveyor_spark.survey.export import collect_database_schema
from dbsurveyor_spark.survey.lakescan import survey_lake
from dbsurveyor_spark.survey.quality import collect_quality_metrics
from dbsurveyor_spark.survey.qualityconfig import QualityConfig

from .conftest import SF_SMALL, assert_frames_match, jobs_in_window

TESTDATA = os.path.dirname(SF_SMALL)
SAMPLE = 5
MAX_COLLECT_JOBS = 60


def _duck(lake: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(lake, t)}'")
    return con


def _oracle_keys(con) -> tuple[set, set]:
    oracles = registry.oracle_sql()
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
    return pk, fk


def _copy_lake(src: str, dst: str, replace: dict[str, pa.Table] | None = None) -> str:
    os.makedirs(dst)
    for t in TABLES:
        if replace and t in replace:
            pq.write_table(replace[t], table_path(dst, t))
        else:
            shutil.copyfile(table_path(src, t), table_path(dst, t))
    return dst


@pytest.fixture(scope="module", params=["sf0.001", "sf0.01"])
def surveyed(request, spark):
    lake = os.path.join(TESTDATA, request.param)
    doc = collect_database_schema(spark, lake, sample=SAMPLE, quality=QualityConfig())
    with _duck(lake) as con:
        yield lake, doc, con


class TestDocumentAgainstDuckDB:
    def test_row_counts_and_analyzed_rows(self, surveyed):
        _, doc, con = surveyed
        analyzed = {m["table_name"]: m["analyzed_rows"] for m in doc["quality_metrics"]}
        for t in doc["tables"]:
            (n,) = con.execute(f"SELECT count(*) FROM {t['name']}").fetchone()
            assert t["row_count"] == n, t["name"]
            assert analyzed[t["name"]] == n, t["name"]

    def test_null_counts(self, surveyed):
        _, doc, con = surveyed
        cols = {t["name"]: [c["name"] for c in t["columns"]] for t in doc["tables"]}
        for m in doc["quality_metrics"]:
            t = m["table_name"]
            got = {c["column_name"]: c["null_count"] for c in m["completeness"]["null_columns"]}
            counts = con.execute(
                f"SELECT {', '.join(f'count(*) - count({c})' for c in cols[t])} FROM {t}"
            ).fetchone()
            want = {c: n for c, n in zip(cols[t], counts) if n}
            assert got == want, t

    def test_keys_match_registry_oracles(self, surveyed):
        _, doc, con = surveyed
        pk, fk = _oracle_keys(con)
        tables = {t["name"]: t for t in doc["tables"]}
        got_pk = {
            (t, c)
            for t, d in tables.items()
            for c in (d["primary_key"] or {}).get("columns", [])
        }
        got_fk = {
            (t, f["columns"][0], f["referenced_table"], f["referenced_columns"][0])
            for t, d in tables.items()
            for f in d["foreign_keys"]
        }
        assert got_pk == pk
        assert got_fk == fk
        assert pk and fk  # the check is not vacuous

    def test_outlier_counts(self, surveyed):
        _, doc, con = surveyed
        seen = 0
        for m in doc["quality_metrics"]:
            t = m["table_name"]
            for o in m["anomalies"]["outliers"]:
                c, mean, sd, z = o["column_name"], o["mean"], o["std_dev"], o["z_score_threshold"]
                (n,) = con.execute(
                    f"SELECT CAST(sum(CASE WHEN abs(CAST({c} AS DOUBLE) - {mean!r}) "
                    f"> {z!r} * {sd!r} THEN 1 ELSE 0 END) AS BIGINT) FROM {t}"
                ).fetchone()
                assert o["outlier_count"] == n, (t, c)
                seen += 1
        assert seen  # some column has outliers at both scales

    def test_samples_are_descending_heads(self, surveyed):
        _, doc, con = surveyed
        cols = {t["name"]: t["columns"][0]["name"] for t in doc["tables"]}
        assert [s["table_name"] for s in doc["samples"]] == list(TABLES)
        for s in doc["samples"]:
            t, first = s["table_name"], cols[s["table_name"]]
            (n,) = con.execute(f"SELECT count(*) FROM {t}").fetchone()
            assert s["sample_size"] == len(s["rows"]) == min(SAMPLE, n)
            want = [
                r[0]
                for r in con.execute(
                    f"SELECT {first} FROM {t} ORDER BY {first} DESC LIMIT {SAMPLE}"
                ).fetchall()
            ]
            assert [r[first] for r in s["rows"]] == want, t


# ------------------------------------------------------------------ edge cases


def _registry_keys_match_oracles(spark, lake: str) -> None:
    with _duck(lake) as con:
        for key, fn in (
            ("survey_pk_inference", profile.survey_pk_inference),
            ("survey_fk_inference", profile.survey_fk_inference),
        ):
            want = con.execute(registry.oracle_sql()[key]).fetchdf()
            assert_frames_match(fn(spark, lake), want, key)


def test_zero_row_table(spark, tmp_path):
    region = pq.read_table(table_path(SF_SMALL, "region"))
    lake = _copy_lake(SF_SMALL, str(tmp_path / "lake"), {"region": region.slice(0, 0)})
    _registry_keys_match_oracles(spark, lake)
    doc = collect_database_schema(spark, lake, sample=SAMPLE, quality=QualityConfig())
    tables = {t["name"]: t for t in doc["tables"]}
    assert tables["region"]["row_count"] == 0
    assert tables["region"]["primary_key"] is None
    assert all(f["referenced_table"] != "region" for f in tables["nation"]["foreign_keys"])
    (m,) = [m for m in doc["quality_metrics"] if m["table_name"] == "region"]
    assert m["analyzed_rows"] == 0
    (s,) = [s for s in doc["samples"] if s["table_name"] == "region"]
    assert s["rows"] == [] and s["sample_size"] == 0


def test_all_null_key_column(spark, tmp_path):
    events = pq.read_table(table_path(SF_SMALL, "events"))
    i = events.schema.get_field_index("user_id")
    events = events.set_column(
        i, "user_id", pa.nulls(events.num_rows, events.schema.field(i).type)
    )
    lake = _copy_lake(SF_SMALL, str(tmp_path / "lake"), {"events": events})
    # the FK row of the all-null child, containment included, equals _fk_sql
    _registry_keys_match_oracles(spark, lake)
    (row,) = [
        r
        for r in profile.survey_fk_inference(spark, lake).collect()
        if r["child_column"] == "user_id"
    ]
    assert (row["child_distinct"], row["matched_distinct"]) == (0, 0)
    assert row["containment"] is None
    doc = collect_database_schema(spark, lake)
    with _duck(lake) as con:
        _, fk = _oracle_keys(con)
    got_fk = {
        (t["name"], f["columns"][0], f["referenced_table"], f["referenced_columns"][0])
        for t in doc["tables"]
        for f in t["foreign_keys"]
    }
    assert got_fk == fk


def test_no_column_for_pass2(spark, tmp_path):
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    # a constant number has std 0 and a string has no moments: pass 2's
    # union of outlier aggregates is empty
    rows = pa.table({"o_orderkey": [7] * 12, "o_comment": [f"c{i}" for i in range(12)]})
    pq.write_table(rows, table_path(lake, "orders"))
    (m,) = collect_quality_metrics(spark, lake, ["orders"])
    assert m["analyzed_rows"] == 12
    assert m["anomalies"] == {"outlier_count": 0, "outliers": []}
    with pytest.raises(ValueError, match="no table named widgets"):
        collect_quality_metrics(spark, lake, ["orders", "widgets"])


def test_non_finite_moments(spark, tmp_path):
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    # an infinite value makes the mean inf and the std NaN, which the packed
    # pass-1 row carries as JSON strings
    prices = [float("inf")] + [float(i) for i in range(1, 20)]
    pq.write_table(
        pa.table({"o_orderkey": list(range(20)), "o_totalprice": prices}),
        table_path(lake, "orders"),
    )
    (m,) = collect_quality_metrics(spark, lake, ["orders"])
    assert m["anomalies"] == {"outlier_count": 0, "outliers": []}


def _cli_pipeline(lake, out) -> None:
    """collect --sample --enable-quality, then validate, generate and sql."""
    doc = str(out)
    for argv in (
        ["collect", str(lake), "--sample", str(SAMPLE), "--enable-quality", "-o", doc],
        ["validate", doc],
        ["generate", doc, "--format", "markdown", "-o", doc + ".md"],
        ["sql", doc, "-o", doc + ".sql"],
    ):
        assert cli.main(argv) == 0, argv


def test_partial_catalog_lake_collects(spark, tmp_path, capsys):
    lake = tmp_path / "lake"
    lake.mkdir()
    shutil.copyfile(table_path(SF_SMALL, "orders"), lake / "orders.parquet")
    pq.write_table(pa.table({"w": [1, 2]}), lake / "widgets.parquet")
    out = tmp_path / "doc.json"
    _cli_pipeline(lake, out)
    assert "Traceback" not in capsys.readouterr().err
    doc = json.load(open(out))
    tables = {t["name"]: t for t in doc["tables"]}
    assert list(tables) == ["orders", "widgets"]
    assert {s["table_name"]: s["sample_size"] for s in doc["samples"]} == {
        "orders": SAMPLE,
        "widgets": 2,
    }
    assert {m["table_name"]: m["analyzed_rows"] for m in doc["quality_metrics"]} == {
        "orders": tables["orders"]["row_count"],
        "widgets": 2,
    }
    # the orders file is SF_SMALL's, so the oracle over SF_SMALL restricted
    # to the present tables is the oracle of this lake
    with _duck(SF_SMALL) as con:
        pk, _ = _oracle_keys(con)
    assert tables["orders"]["primary_key"]["columns"] == [c for t, c in pk if t == "orders"]
    assert tables["widgets"]["primary_key"] is None
    assert all(t["foreign_keys"] == [] for t in tables.values())


def test_key_candidate_column_must_exist(spark, tmp_path):
    """Only hinted columns that exist with an integer type are tested:
    orders lacks o_custkey, and a string c_custkey would fail the key
    shuffle's bigint cast."""
    lake = tmp_path / "lake"
    lake.mkdir()
    pq.write_table(pa.table({"o_orderkey": [3, 1, 2]}), lake / "orders.parquet")
    (lake / "customer.csv").write_text("c_custkey,c_name\nc1,a\nc2,b\n")
    out = tmp_path / "doc.json"
    _cli_pipeline(lake, out)
    tables = {t["name"]: t for t in json.load(open(out))["tables"]}
    assert tables["orders"]["primary_key"]["columns"] == ["o_orderkey"]
    assert tables["customer"]["primary_key"] is None
    assert all(t["foreign_keys"] == [] for t in tables.values())


def test_zero_byte_text_tables(spark, tmp_path):
    lake = tmp_path / "lake"
    lake.mkdir()
    (lake / "empty.jsonl").write_text("")
    (lake / "blank.csv").write_text("")
    (lake / "ok.csv").write_text("a\n1\n")
    out = tmp_path / "doc.json"
    _cli_pipeline(lake, out)
    doc = json.load(open(out))
    tables = {t["name"]: (t["row_count"], t["columns"]) for t in doc["tables"]}
    assert tables["empty"] == tables["blank"] == (0, [])
    assert tables["ok"][0] == 1
    samples = {s["table_name"]: s["sample_size"] for s in doc["samples"]}
    assert samples == {"blank": 0, "empty": 0, "ok": 1}
    analyzed = {m["table_name"]: m["analyzed_rows"] for m in doc["quality_metrics"]}
    assert analyzed == {"blank": 0, "empty": 0, "ok": 1}


def test_unreadable_tables_become_warnings(spark, tmp_path):
    lake = tmp_path / "lake"
    lake.mkdir()
    (lake / "broken.parquet").write_text("not parquet")
    (lake / "garbage.jsonl").write_text("not json\nnor this\n")
    (lake / "ok.jsonl").write_text('{"a": 1}\n')
    out = tmp_path / "doc.json"
    _cli_pipeline(lake, out)
    doc = json.load(open(out))
    assert [t["name"] for t in doc["tables"]] == ["ok"]
    warnings = doc["collection_metadata"]["warnings"]
    assert any(w.startswith("broken: collection failed:") for w in warnings), warnings
    assert any(w.startswith("garbage: collection failed:") for w in warnings), warnings
    # one line naming the cause, not a Java stack trace
    for w in warnings:
        assert "\n" not in w and "\tat " not in w, w
    (broken,) = [w for w in warnings if w.startswith("broken:")]
    assert "not a Parquet file" in broken, broken


def test_colliding_stems_and_mixed_directories_are_not_dropped(spark, tmp_path):
    lake = tmp_path / "lake"
    (lake / "mixed").mkdir(parents=True)
    shutil.copyfile(table_path(SF_SMALL, "region"), lake / "region.parquet")
    (lake / "region.csv").write_text("r_regionkey\n7\n")
    (lake / "t.csv").write_text("a\n1\n2\n")
    (lake / "t.jsonl").write_text('{"b": "x"}\n')
    (lake / "mixed" / "part-0.csv").write_text("a\n1\n")
    (lake / "mixed" / "part-1.jsonl").write_text('{"a": 1}\n')
    out = tmp_path / "doc.json"
    _cli_pipeline(lake, out)
    doc = json.load(open(out))
    tables = {t["name"]: t for t in doc["tables"]}
    # every file is a table; the catalog-shaped region.parquet keeps its name
    assert set(tables) == {"region", "region_csv", "t", "t_jsonl"}
    assert tables["region"]["primary_key"]["columns"] == ["r_regionkey"]
    assert (tables["t"]["row_count"], tables["t_jsonl"]["row_count"]) == (2, 1)
    assert [c["name"] for c in tables["t_jsonl"]["columns"]] == ["b"]
    warnings = doc["collection_metadata"]["warnings"]
    assert "mixed: skipped, a directory mixing csv, jsonl files is not one table" in warnings
    assert "t.jsonl: surveyed as table t_jsonl, since table t is t.csv" in warnings
    assert "region.csv: surveyed as table region_csv, since table region is region.parquet" in warnings


def test_directory_tables_take_the_catalog_path(spark, tmp_path):
    lake = tmp_path / "lake"
    for t in ("region", "nation"):
        spark.read.parquet(table_path(SF_SMALL, t)).repartition(2).write.parquet(
            str(lake / f"{t}.parquet")
        )
    doc = collect_database_schema(spark, str(lake))
    tables = {t["name"]: t for t in doc["tables"]}
    assert list(tables) == ["region", "nation"]
    assert tables["region"]["primary_key"]["columns"] == ["r_regionkey"]
    assert tables["nation"]["foreign_keys"][0]["referenced_table"] == "region"
    assert doc["database_info"]["size_bytes"] > 0


# ------------------------------------------------------------ key kernel plan


def test_key_inference_reads_the_values_once(spark):
    """One scan of each table and one exchange of the candidate values feed
    every PK and FK test; a ReusedExchange would count as the same one."""
    frames = {t: spark.read.parquet(table_path(SF_SMALL, t)) for t in TABLES}
    keys = profile.key_inference(frames, profile.PK_CANDIDATES, profile.FK_CANDIDATES)
    rows = keys.collect()
    assert len(rows) == len(profile.PK_CANDIDATES) + len(profile.FK_CANDIDATES)
    plan = keys._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    exchanges = re.findall(r"(?<!Reused)Exchange hashpartitioning\(([^)]*)\)", final)
    assert len(exchanges) == 1, final
    assert re.fullmatch(r"v#\d+L?, \d+", exchanges[0]), exchanges
    scans = re.findall(r"FileScan parquet .*?Location: InMemoryFileIndex\(1 paths\)\[([^\]]+)\]", final)
    tables = {t for t, _ in profile.PK_CANDIDATES} | {
        t for f in profile.FK_CANDIDATES for t in (f[0], f[2])
    }
    assert sorted(scans) == sorted(f"file:{table_path(SF_SMALL, t)}" for t in tables), scans


# -------------------------------------------------------- throttle and jobs


def test_throttle_spaces_per_table_operations(spark, monkeypatch):
    throttle_ms = 300
    sleeps = []
    real_sleep = time.sleep

    def spy(s):
        sleeps.append(s)
        real_sleep(s)

    monkeypatch.setattr(profile, "time", SimpleNamespace(sleep=spy))
    t0 = time.monotonic()
    doc = collect_database_schema(
        spark, SF_SMALL, infer_keys=False, sample=2, throttle_ms=throttle_ms
    )
    elapsed = time.monotonic() - t0
    assert len(doc["samples"]) == len(TABLES)
    assert elapsed >= 9 * throttle_ms / 1000.0
    # 9 gaps between the 10 loads and 9 between the 10 samples
    assert sleeps.count(throttle_ms / 1000.0) >= 2 * (len(TABLES) - 1)


@pytest.mark.parametrize(
    "name, fn",
    [
        ("column-profile", lambda spark: profile.survey_column_profile(spark, SF_SMALL)),
        (
            "lake-scan",
            lambda spark: survey_lake(spark, SF_SMALL, sample=2, quality=QualityConfig()),
        ),
    ],
)
def test_pool_jobs_keep_the_callers_job_group(spark, name, fn):
    every, grouped = jobs_in_window(spark, f"lakescan-test-{name}", lambda: fn(spark))
    assert every  # the window saw the work
    assert every == grouped


def test_collect_job_count_guard(spark, tmp_path):
    out = tmp_path / "doc.json"
    rc = []
    every, grouped = jobs_in_window(
        spark,
        "lakescan-test-collect",
        lambda: rc.append(
            cli.main(
                ["collect", SF_SMALL, "--sample", str(SAMPLE), "--enable-quality", "-o", str(out)]
            )
        ),
    )
    assert rc == [0]
    assert json.load(open(out))["quality_metrics"]
    assert every == grouped
    assert len(grouped) <= MAX_COLLECT_JOBS, len(grouped)
