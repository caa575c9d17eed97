"""Tests of the benchmark itself; none of them starts a Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------ names and units


def test_end_to_end_names_and_units_match_spec():
    spec = [(m["name"], m["unit"]) for m in _spec()["end_to_end"]]
    metrics = run.end_to_end_metrics(
        setup_s=3.0, passes=[10.0], latencies=[0.5, 1.0, 2.0], peak_rss_mb=900.0
    )
    line = run.result_line([workloads.Op("q", "operators.other", 1.0)], metrics, dict(run.END_TO_END))
    assert [(k, v["unit"]) for k, v in line["metrics"].items()] == spec


def test_per_layer_names_and_units_match_spec():
    spec = [(m["name"], m["unit"]) for m in _spec()["per_layer"]]
    tracer = object.__new__(spans.Tracer)
    tracer.spans, tracer.harvest_s = [], 0.25
    s = spans.Span("survey.quality", "g0", True)
    s.end = s.start + 2.0
    s.counters["exec_cpu_s"] = 4.0
    tracer.spans.append(s)
    metrics = run.traced_metrics(
        tracer, since=0, passes=[2.5], cores=4, setup_s=7.0, gc_s=0.1, memos=[3]
    )
    line = run.result_line([], metrics, dict(run.per_layer_names()))
    assert [(k, v["unit"]) for k, v in line["metrics"].items()] == spec
    assert line["metrics"]["survey.quality.core_util"]["value"] == pytest.approx(0.5)


def test_spec_is_within_the_driver_limits():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert len(spec["per_layer"]) <= 128
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# ------------------------------------------------------------ generators


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors


def _inputs(seed: int, root: str) -> str:
    tables = datagen.make_tables(seed, 0.001)
    datagen.write_lake(tables, os.path.join(root, "lake"), seed)
    datagen.write_lake(datagen.subset_tables(tables, seed, 0.2), os.path.join(root, "small"), seed)
    datagen.write_document_lake(tables["events"], os.path.join(root, "docs"))
    return root


@pytest.mark.parametrize("sub", ["lake", "small", "docs"])
def test_generators_are_byte_identical_for_a_seed(tmp_path, sub):
    a = _inputs(7, str(tmp_path / "a"))
    b = _inputs(7, str(tmp_path / "b"))
    c = _inputs(8, str(tmp_path / "c"))
    assert _same_tree(os.path.join(a, sub), os.path.join(b, sub))
    assert not _same_tree(os.path.join(a, sub), os.path.join(c, sub))


def test_generated_lake_has_the_catalog_shape():
    tables = datagen.make_tables(3, 0.001)
    assert tuple(tables) == datagen.TABLES
    for name, n in datagen.table_sizes(0.001).items():
        assert tables[name].num_rows == n
    for key, name in (("c_custkey", "customer"), ("o_orderkey", "orders"), ("doc_id", "documents")):
        col = tables[name].column(key).to_pylist()
        assert len(set(col)) == len(col)


# ---------------------------------------------- wrong outputs are counted


def test_query_compare_sees_one_changed_value():
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None], "s": ["a", "b", "c"]})
    same = df.iloc[::-1].reset_index(drop=True)
    rounded_apart = df.assign(v=[0.5, 1.250000001, None])  # one 9-decimal step
    wrong = df.assign(v=[0.5, 1.26, None])
    assert workloads.frames_differ(df, same) is None
    assert workloads.frames_differ(df, rounded_apart) is None
    assert workloads.frames_differ(df, wrong) == "v: 1.25 != 1.26"
    assert workloads.frames_differ(df, df.iloc[:2]) == "3 rows != 2"
    assert workloads.frames_differ(df, df.assign(s=["a", "x", "c"])) is not None


def test_wrong_query_result_counts_as_failed_operations(tmp_path):
    wl = workloads.QueryMix(str(tmp_path), 1)
    wl.wrong["q3_shipping_priority"] = "values differ"
    ops = [
        workloads.Op("q3_shipping_priority", "operators.relational", 0.5),
        workloads.Op("text_stats", "operators.textstats", 0.3),
        workloads.Op("q3_shipping_priority", "operators.relational", 0.6),
    ]
    wl.verify(ops)
    line = run.result_line(ops, {}, {})
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 3, 2)


def _survey_outputs(wl: workloads.SurveyFull, out: str) -> workloads.Op:
    """A lake survey's outputs written by hand from the verifier's facts."""
    from dbsurveyor_spark.security import write_encrypted_json
    from dbsurveyor_spark.survey.export import FORMAT_VERSION

    exp = wl.expected()
    tables = []
    for t, n in exp["counts"].items():
        pk = sorted(c for tt, c in exp["pk"] if tt == t)
        cols = pk or ["c"]
        tables.append(
            {
                "name": t,
                "columns": [{"name": c, "ordinal_position": i + 1} for i, c in enumerate(cols)],
                "row_count": n,
                "primary_key": {"name": f"pk_{t}", "columns": pk} if pk else None,
                "foreign_keys": [
                    {"columns": [cc], "referenced_table": pt, "referenced_columns": [pc]}
                    for ct, cc, pt, pc in sorted(exp["fk"])
                    if ct == t
                ],
            }
        )
    doc = {
        "format_version": FORMAT_VERSION,
        "database_info": {"name": "lake"},
        "tables": tables,
        "quality_metrics": [{"table_name": t, "analyzed_rows": n} for t, n in exp["counts"].items()],
        "samples": [
            {"table_name": t, "sample_size": min(int(workloads.SAMPLE_ROWS), n)}
            for t, n in exp["counts"].items()
        ],
    }
    op = workloads.Op("lake", "survey.export")
    op.outputs = {k: os.path.join(out, f"lake.{k}") for k in ("doc", "md", "sql")}
    write_encrypted_json(doc, op.outputs["doc"], workloads.PASSPHRASE)
    for k in ("md", "sql"):
        with open(op.outputs[k], "w") as fh:
            fh.write("\n".join(exp["counts"]))
    return op


def test_wrong_survey_document_counts_as_failed(tmp_path, monkeypatch):
    from dbsurveyor_spark.security import decrypt_bytes, write_encrypted_json

    monkeypatch.setenv("DBSURVEYOR_SQLITE_FIXTURE_DIR", str(tmp_path / "fixtures"))
    wl = workloads.SurveyFull(str(tmp_path), 5)
    wl.sf = 0.001
    wl.setup(None)
    op = _survey_outputs(wl, wl.out)
    assert wl.check(op) == []

    with open(op.outputs["doc"], "rb") as fh:
        doc = json.loads(decrypt_bytes(fh.read(), workloads.PASSPHRASE))
    doc["tables"][6]["row_count"] += 1  # lineitem off by one
    write_encrypted_json(doc, op.outputs["doc"], workloads.PASSPHRASE)
    wl.verify([op])
    assert op.error and "lineitem.row_count" in op.error
    line = run.result_line([op], {}, {})
    assert (line["correct"], line["failed"]) == (False, 1)


# ------------------------------------------------ missing program fails


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = _spec()["command"] + ["--workload", "survey_full", "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
