"""CLI e2e (SURVEY.md §2.J): the reference's two binaries' verbs over the
lake engine — collect → validate → analyze → generate round trips, with
the compress/encrypt envelopes and the sqlite source."""

from __future__ import annotations

import json
import sqlite3

import pytest

from dbsurveyor_spark import cli

SF = "/root/testdata/sf0.001"


def run(argv):
    return cli.main(argv)


@pytest.fixture(scope="module")
def schema_path(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("cli") / "schema.json"
    assert run(["collect", SF, "-o", str(out), "--sample", "2"]) == 0
    return str(out)


class TestCollect:
    def test_document_validates_and_has_samples(self, schema_path):
        assert run(["validate", schema_path]) == 0
        doc = json.load(open(schema_path))
        assert doc["database_info"]["name"] == "sf0.001"
        assert len(doc["tables"]) == 10
        samples = {s["table_name"]: s for s in doc["samples"]}
        assert samples["orders"]["sample_size"] == 2
        assert samples["orders"]["sampling_strategy"] == {
            "MostRecent": {"limit": 2}
        }

    def test_compress_roundtrip(self, spark, tmp_path):
        from dbsurveyor_spark.survey.export import ZSTD_MAGIC, zstd_available

        out = tmp_path / "schema.json"
        assert run(["collect", SF, "-o", str(out), "--compress"]) == 0
        # reference appends .zst (output.rs:118); gzip fallback appends .gz
        ext = ".zst" if zstd_available() else ".gz"
        path = str(out) + ext
        if ext == ".zst":
            assert open(path, "rb").read(4) == ZSTD_MAGIC
        assert run(["validate", path]) == 0

    def test_encrypt_roundtrip(self, spark, tmp_path):
        pytest.importorskip("cryptography")
        out = tmp_path / "schema.enc"
        assert (
            run(["collect", SF, "-o", str(out), "--encrypt", "--passphrase", "pw"])
            == 0
        )
        # ciphertext is not JSON; with the passphrase it validates
        with pytest.raises(Exception):
            json.load(open(out))
        assert run(["validate", str(out), "--passphrase", "pw"]) == 0

    def test_multi_database_document(self, spark, tmp_path):
        out = tmp_path / "server.json"
        assert (
            run(
                ["collect", "x", "--database", SF, "--database",
                 "/root/testdata/sf0.01", "-o", str(out)]
            )
            == 0
        )
        doc = json.load(open(out))
        assert [d["database_name"] for d in doc["databases"]] == [
            "sf0.001",
            "sf0.01",
        ]
        assert doc["collection_metadata"]["databases_failed"] == 0

    def test_fleet_collect_samples_and_analyzes_every_database(self, spark, tmp_path):
        import shutil

        lakes = []
        for name in ("a", "b"):
            d = tmp_path / name
            d.mkdir()
            for t in ("region", "nation"):
                shutil.copy(f"{SF}/{t}.parquet", d / f"{t}.parquet")
            lakes += ["--database", str(d)]
        out = tmp_path / "fleet.json"
        assert (
            run(
                ["collect", "x", *lakes, "--sample", "2", "--enable-quality",
                 "--redact-mode", "conservative", "-o", str(out)]
            )
            == 0
        )
        docs = [d["schema"] for d in json.load(open(out))["databases"]]
        assert len(docs) == 2
        for doc in docs:
            assert [s["sample_size"] for s in doc["samples"]] == [2, 2]
            # the redact mode reaches every database: balanced would keep
            # both names, conservative redacts them (neither is a date)
            assert [r["r_name"] for r in doc["samples"][0]["rows"]] == [
                "[REDACTED]",
                "[REDACTED]",
            ]
            assert [m["table_name"] for m in doc["quality_metrics"]] == ["region", "nation"]

    @pytest.fixture()
    def server_root(self, tmp_path):
        """A lake 'server': two real databases, one system dir, one to
        exclude — symlinks keep the fixture IO-free."""
        import os

        root = tmp_path / "server"
        root.mkdir()
        for name in ("alpha", "beta", "skipme"):
            os.symlink(SF, root / name)
        sysdir = root / "_checkpoints"
        sysdir.mkdir()
        (sysdir / "state.parquet").write_bytes(b"")
        (root / "notes.txt").write_text("not a database")
        return root

    def test_all_databases_enumeration(self, spark, tmp_path, server_root):
        out = tmp_path / "server.json"
        assert (
            run(
                ["collect", str(server_root), "--all-databases",
                 "--exclude-databases", "skipme,ghost", "-o", str(out)]
            )
            == 0
        )
        doc = json.load(open(out))
        assert [d["database_name"] for d in doc["databases"]] == [
            "alpha",
            "beta",
        ]
        meta = doc["collection_metadata"]
        # skipme (excluded) + _checkpoints (system) were discovered+filtered
        assert meta["databases_discovered"] == 4
        assert meta["databases_filtered"] == 2
        assert meta["databases_collected"] == 2

    def test_all_databases_include_system(self, server_root):
        from dbsurveyor_spark.survey.export import enumerate_lake_databases

        found = enumerate_lake_databases(str(server_root))
        assert sorted(found) == ["alpha", "beta", "skipme"]
        with_sys = enumerate_lake_databases(
            str(server_root), include_system=True
        )
        assert "_checkpoints" in with_sys
        excl = enumerate_lake_databases(str(server_root), exclude=["beta"])
        assert sorted(excl) == ["alpha", "skipme"]

    def test_all_databases_finds_text_databases(self, spark, tmp_path):
        root = tmp_path / "server"
        for db in ("csvdb", "ndjsondb", "nothing"):
            (root / db).mkdir(parents=True)
        (root / "csvdb" / "t.csv").write_text("a,b\n1,x\n")
        (root / "ndjsondb" / "u.ndjson").write_text('{"k": 1}\n')
        (root / "nothing" / "notes.txt").write_text("not a table")
        from dbsurveyor_spark.survey.export import enumerate_lake_databases

        assert sorted(enumerate_lake_databases(str(root))) == ["csvdb", "ndjsondb"]
        out = tmp_path / "server.json"
        assert run(["collect", str(root), "--all-databases", "-o", str(out)]) == 0
        doc = json.load(open(out))
        assert doc["collection_metadata"]["databases_collected"] == 2
        assert {
            d["database_name"]: [t["name"] for t in d["schema"]["tables"]]
            for d in doc["databases"]
        } == {"csvdb": ["t"], "ndjsondb": ["u"]}

    def test_all_databases_empty_root_fails(self, tmp_path):
        empty = tmp_path / "empty"
        empty.mkdir()
        assert (
            run(["collect", str(empty), "--all-databases",
                 "-o", str(tmp_path / "x.json")])
            == 1
        )


class TestSources:
    def test_lake_and_jdbc_probe(self, capsys):
        assert run(["test", SF]) == 0
        assert run(["test", "jdbc:postgresql://u:p%40s@h:5432/d"]) == 0
        outerr = capsys.readouterr().out
        assert "OK lake: 10 tables" in outerr
        assert "p%40s" not in outerr  # credentials never echo

    def test_bare_server_url_probe(self, capsys):
        """`test` takes the bare server URL `collect` takes, not only the
        `jdbc:` form `list-types` advertises."""
        assert run(["test", "postgres://u:p@h:5432/d"]) == 0
        out = capsys.readouterr().out
        assert "OK jdbc url parsed: postgres://h:5432/d" in out
        assert "u:p" not in out

    def test_text_lake_probe(self, tmp_path, capsys):
        lake = tmp_path / "lake"
        lake.mkdir()
        (lake / "t.csv").write_text("a\n1\n")
        (lake / "u.jsonl").write_text('{"k": 1}\n')
        assert run(["test", str(lake)]) == 0
        assert "OK lake: 2 tables" in capsys.readouterr().out
        empty = tmp_path / "empty"
        empty.mkdir()
        assert run(["test", str(empty)]) == 1
        assert "FAIL lake" in capsys.readouterr().err

    def test_sqlite_collect(self, tmp_path):
        db = tmp_path / "mini.db"
        con = sqlite3.connect(db)
        con.execute("CREATE TABLE t(a INTEGER PRIMARY KEY, b TEXT)")
        con.execute("INSERT INTO t VALUES (1, 'x')")
        con.commit()
        con.close()
        url = f"sqlite://{db}"
        assert run(["test", url]) == 0
        out = tmp_path / "sq.json"
        assert run(["collect", url, "-o", str(out)]) == 0
        assert run(["validate", str(out)]) == 0

    def test_unsupported_source_fails_cleanly(self):
        assert run(["test", "mongodb://host/db"]) == 2


class TestPostprocess:
    def test_generate_formats(self, schema_path, tmp_path, capsys):
        for fmt, needle in (
            ("markdown", "# Database"),
            ("mermaid", "erDiagram"),
            ("sql", "CREATE TABLE"),
            ("json", '"format_version"'),
        ):
            out = tmp_path / f"out.{fmt}"
            assert run(["generate", schema_path, "--format", fmt, "-o", str(out)]) == 0
            assert needle in out.read_text()

    def test_sql_matches_generate_sql(self, schema_path, capsys):
        assert run(["sql", schema_path]) == 0
        assert "CREATE TABLE" in capsys.readouterr().out

    def test_analyze_reports_objects(self, schema_path, capsys):
        assert run(["analyze", schema_path, "--detailed"]) == 0
        out = capsys.readouterr().out
        assert "tables: 10" in out
        assert "lineitem" in out

    def test_validate_rejects_broken_doc(self, schema_path, tmp_path):
        doc = json.load(open(schema_path))
        doc["tables"][0]["columns"] = []
        bad = tmp_path / "bad.json"
        bad.write_text(json.dumps(doc, default=str))
        assert run(["validate", str(bad)]) == 1


class TestQualityCollection:
    def test_enable_quality_attaches_reference_shaped_metrics(
        self, spark, tmp_path
    ):
        out = tmp_path / "q.json"
        assert run(["collect", SF, "-o", str(out), "--enable-quality"]) == 0
        doc = json.load(open(out))
        metrics = {m["table_name"]: m for m in doc["quality_metrics"]}
        assert set(metrics) == {
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        }
        ev = metrics["events"]
        for section in ("completeness", "consistency", "uniqueness", "anomalies"):
            assert section in ev
        assert 0.0 <= ev["quality_score"] <= 1.0
        assert ev["analyzed_rows"] > 0
        # parquet tables are typed: consistency is structurally clean
        assert ev["consistency"]["type_inconsistencies"] == []
        # the synthetic tables have no exact duplicate rows; the HLL noise
        # floor must not invent any
        assert all(
            m["uniqueness"]["duplicate_row_count"] == 0
            for m in metrics.values()
        )


class TestReviewRegressions:
    def test_malformed_jdbc_and_missing_sqlite_fail_cleanly(self, capsys):
        assert run(["test", "jdbc:oracle:thin:@host"]) == 1
        assert run(["test", "sqlite:///no/such/file.db"]) == 1
        err = capsys.readouterr().err
        assert "FAIL" in err

    def test_basename_collision_keeps_both_lakes(self, spark, tmp_path):
        import shutil

        a = tmp_path / "lakeA" / "sf"
        b = tmp_path / "lakeB" / "sf"
        for d in (a, b):
            d.mkdir(parents=True)
            for t in ("region", "nation"):
                shutil.copy(f"{SF}/{t}.parquet", d / f"{t}.parquet")
        out = tmp_path / "server.json"
        assert (
            run(["collect", "x", "--database", str(a), "--database", str(b),
                 "-o", str(out), "--no-infer-keys"]) == 0
        )
        doc = json.load(open(out))
        # both lakes surveyed (second keyed by full path, not dropped)
        assert doc["collection_metadata"]["databases_discovered"] == 2
        assert doc["collection_metadata"]["databases_collected"] == 2
        assert [d["database_name"] for d in doc["databases"]] == ["sf", "sf#2"]

    def test_encrypt_plus_compress_rejected(self, tmp_path):
        out = tmp_path / "x.json"
        assert (
            run(["collect", SF, "-o", str(out), "--encrypt", "--compress",
                 "--passphrase", "pw"]) == 2
        )

    def test_samples_are_descending_head(self, spark, tmp_path):
        out = tmp_path / "s.json"
        assert run(["collect", SF, "-o", str(out), "--sample", "2"]) == 0
        doc = json.load(open(out))
        orders = next(s for s in doc["samples"] if s["table_name"] == "orders")
        keys = [r["o_orderkey"] for r in orders["rows"]]
        assert keys == sorted(keys, reverse=True)  # newest-by-key first


class TestJdbcCollectVerb:
    def test_driverless_jdbc_collect_fails_cleanly(self, tmp_path, capsys):
        """No JDBC driver jar in this container: the verb must route a
        postgres:// source to the catalog sweep and fail with a message,
        never a traceback."""
        from dbsurveyor_spark.cli import main

        rc = main(
            [
                "collect",
                "postgres://u:p@localhost:5432/app",
                "--output",
                str(tmp_path / "out.json"),
            ]
        )
        assert rc == 1
        err = capsys.readouterr().err
        assert "jdbc collect failed" in err
        # credentials never leak into the failure output
        assert "u:p" not in err.replace("jdbc collect failed", "")

    def test_jdbc_url_reaches_the_jdbc_collect(self, tmp_path, capsys):
        """`collect` takes the `jdbc:postgresql://…` form `list-types`
        advertises and `test` accepts: the catalog sweep runs and fails
        cleanly for want of a driver jar."""
        from dbsurveyor_spark.cli import main

        rc = main(
            [
                "collect",
                "jdbc:postgresql://u:p@localhost:5432/app",
                "--output",
                str(tmp_path / "out.json"),
            ]
        )
        assert rc == 1
        err = capsys.readouterr().err
        assert "jdbc collect failed" in err
        assert "u:p" not in err.replace("jdbc collect failed", "")


class TestProfileVerb:
    def test_profile_json_covers_all_sections(self, tmp_path, capsys):
        import json as _json

        from dbsurveyor_spark.cli import PROFILE_QUERIES, main

        out = tmp_path / "profile.json"
        rc = main(
            [
                "profile",
                "/root/testdata/sf0.001",
                "--format",
                "json",
                "--output",
                str(out),
            ]
        )
        assert rc == 0
        doc = _json.loads(out.read_text())
        assert set(doc) == set(PROFILE_QUERIES)
        assert all(len(v) > 0 for v in doc.values())

    def test_profile_markdown_renders_tables(self, capsys):
        from dbsurveyor_spark.cli import main

        rc = main(["profile", "/root/testdata/sf0.001"])
        assert rc == 0
        text = capsys.readouterr().out
        assert "## survey_numeric_moments" in text
        assert "| column_name |" in text


class TestCheckVerb:
    def test_check_json_and_ci_gate(self, tmp_path, capsys):
        import json as _json

        from dbsurveyor_spark.cli import main
        from dbsurveyor_spark.survey.quality import QUALITY_RULES

        out = tmp_path / "check.json"
        rc = main(
            [
                "check",
                "/root/testdata/sf0.001",
                "--format",
                "json",
                "--output",
                str(out),
            ]
        )
        # without --fail-on-violation the verb reports but exits 0
        assert rc == 0
        doc = _json.loads(out.read_text())
        assert len(doc["rules"]) == len(QUALITY_RULES)
        assert doc["failed"] >= 1  # the tight SLA rules fail by design
        # the CI gate flips the exit code
        rc2 = main(
            ["check", "/root/testdata/sf0.001", "--fail-on-violation",
             "--output", str(tmp_path / "check.md")]
        )
        assert rc2 == 1

    def test_check_markdown_summary(self, capsys):
        from dbsurveyor_spark.cli import main

        rc = main(["check", "/root/testdata/sf0.001"])
        assert rc == 0
        text = capsys.readouterr().out
        assert "| table | rule |" in text
        assert "rule(s) failed" in text


class TestCompletions:
    """Shell-completions verb parity (dbsurveyor-collect/src/main.rs:156)."""

    def test_bash_script_covers_all_verbs(self, capsys):
        from dbsurveyor_spark.cli import build_parser, main

        assert main(["completions", "bash"]) == 0
        out = capsys.readouterr().out
        assert "complete -F _dbsurveyor_spark dbsurveyor-spark" in out
        # every verb from the live parser appears (incl. completions itself)
        import argparse

        sub = next(
            a
            for a in build_parser()._actions
            if isinstance(a, argparse._SubParsersAction)
        )
        for verb in sub.choices:
            assert verb in out, verb
        assert "--fail-on-change" in out  # per-verb options present

    def test_zsh_script_emits_compdef(self, capsys):
        from dbsurveyor_spark.cli import main

        assert main(["completions", "zsh"]) == 0
        out = capsys.readouterr().out
        assert out.startswith("#compdef dbsurveyor-spark")
        assert "_values 'command'" in out
