import json, os
def test_file_lake_collect(spark, tmp_path):
    import duckdb, shutil
    lake = tmp_path / "mixed"
    lake.mkdir()
    (lake / "people.csv").write_text("id,name,email\n1,a,a@x.com\n2,b,b@y.org\n")
    (lake / "logs.jsonl").write_text('{"ts": 1, "msg": "hi"}\n{"ts": 2, "msg": "yo"}\n')
    shutil.copy("/root/testdata/sf0.001/region.parquet", lake / "facts.parquet")
    from dbsurveyor_spark.survey.export import collect_database_schema, validate_schema_doc
    doc = collect_database_schema(spark, str(lake))
    assert validate_schema_doc(doc) == []
    by = {t["name"]: t for t in doc["tables"]}
    assert set(by) == {"people", "logs", "facts"}
    assert by["people"]["row_count"] == 2 and by["people"]["comment"] == "format=csv"
    assert by["logs"]["row_count"] == 2 and by["logs"]["comment"] == "format=jsonl"
    assert by["facts"]["comment"] == "format=parquet"
    assert doc["database_info"]["size_bytes"] == sum(
        os.path.getsize(lake / f) for f in ("people.csv", "logs.jsonl", "facts.parquet")
    )
    warn = doc["collection_metadata"]["warnings"]
    assert any("email" in w for w in warn)  # sensitive-column pass ran

def test_cli_collect_generic_lake(spark, tmp_path):
    from dbsurveyor_spark.cli import main
    lake = tmp_path / "loose"
    lake.mkdir()
    (lake / "t.csv").write_text("a,b\n1,2\n")
    out = tmp_path / "doc.json"
    rc = main(["collect", str(lake), "--output", str(out)])
    assert rc == 0
    doc = json.loads(out.read_text())
    assert doc["tables"][0]["name"] == "t"
    assert doc["database_info"]["size_bytes"] > 0


def test_cli_text_lake_samples_and_quality(spark, tmp_path):
    """--sample and --enable-quality apply to a csv/jsonl lake, and the
    document goes through validate, generate and sql."""
    from dbsurveyor_spark.cli import main
    lake = tmp_path / "text"
    lake.mkdir()
    (lake / "t.csv").write_text("a,b\n1,x\n3,y\n2,z\n")
    (lake / "u.jsonl").write_text('{"k": 1, "v": "p"}\n{"k": 2, "v": null}\n')
    out = str(tmp_path / "doc.json")
    assert main(["collect", str(lake), "--sample", "5", "--enable-quality", "-o", out]) == 0
    assert main(["validate", out]) == 0
    assert main(["generate", out, "--format", "markdown", "-o", out + ".md"]) == 0
    assert main(["sql", out, "-o", out + ".sql"]) == 0
    doc = json.loads(open(out).read())
    samples = {s["table_name"]: s["rows"] for s in doc["samples"]}
    assert [r["a"] for r in samples["t"]] == [3, 2, 1]  # head by first column, descending
    assert len(samples["u"]) == 2
    quality = {m["table_name"]: m for m in doc["quality_metrics"]}
    assert quality["t"]["analyzed_rows"] == 3
    assert quality["u"]["completeness"]["null_columns"] == [
        {"column_name": "v", "null_count": 1, "null_ratio": 0.5}
    ]
    assert all(t["primary_key"] is None for t in doc["tables"])


def test_schema_evolution_union_schema(spark, tmp_path):
    """A lake directory accumulates files across schema versions: the
    survey must report the UNION schema (evolved column present, nullable),
    not whichever single footer the reader happened to pick."""
    from dbsurveyor_spark.sources.file_lake import discover_tables, read_lake_table
    from dbsurveyor_spark.survey.export import collect_database_schema

    lake = tmp_path / "evolving"
    tdir = lake / "t"
    tdir.mkdir(parents=True)
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, name string"
    ).coalesce(1).write.mode("append").parquet(str(tdir))
    spark.createDataFrame(
        [(3, "c", 9.5)], "id bigint, name string, score double"
    ).coalesce(1).write.mode("append").parquet(str(tdir))

    path, fmt = discover_tables(str(lake))[0]["t"]
    df = read_lake_table(spark, path, fmt)
    assert set(df.columns) == {"id", "name", "score"}
    # v1 rows surface with the evolved column null, not dropped
    rows = {r.id: r for r in df.collect()}
    assert rows[1].score is None and rows[3].score == 9.5

    doc = collect_database_schema(spark, str(lake), warn_sensitive=False)
    cols = {c["name"]: c for c in doc["tables"][0]["columns"]}
    assert "score" in cols and cols["score"]["is_nullable"]
    assert doc["tables"][0]["row_count"] == 3
    assert doc["database_info"]["size_bytes"] > 0
