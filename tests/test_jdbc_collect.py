"""JDBC collection assembly: catalog sweep rows → schema document.

No live server exists, so a stub read_query serves canned catalog frames
(exactly the columns the pinned catalog SQL projects); the assembly must
produce a valid document with keys, indexes, views, routines, triggers,
unified types, and sensitive-column warnings."""

from __future__ import annotations

from dbsurveyor_spark.sources.catalog_sql import catalog_queries
from dbsurveyor_spark.sources.jdbc_collect import collect_jdbc_schema


def _stub_reader(spark):
    qs = catalog_queries("postgresql")
    frames = {
        qs["tables"]: spark.createDataFrame(
            [("public", "users", None), ("public", "orders", None)],
            "schema_name string, table_name string, approx_rows bigint",
        ),
        qs["columns"]: spark.createDataFrame(
            [
                ("public", "users", "id", 1, "bigint", "int8", "NO",
                 "nextval('users_id_seq')", None, 64, 0, True),
                ("public", "users", "email", 2, "character varying",
                 "varchar", "YES", None, 255, None, None, False),
                ("public", "orders", "order_id", 1, "bigint", "int8",
                 "NO", None, None, 64, 0, False),
                ("public", "orders", "user_id", 2, "bigint", "int8",
                 "YES", None, None, 64, 0, False),
                ("public", "orders", "amount", 3, "numeric", "numeric",
                 "YES", None, None, 12, 2, False),
            ],
            "schema_name string, table_name string, column_name string, "
            "ordinal_position int, data_type string, engine_type string, "
            "is_nullable string, column_default string, "
            "character_maximum_length int, numeric_precision int, "
            "numeric_scale int, is_auto_increment boolean",
        ),
        qs["primary_keys"]: spark.createDataFrame(
            [
                ("public", "users", "users_pkey", "id", 1),
                ("public", "orders", "orders_pkey", "order_id", 1),
            ],
            "schema_name string, table_name string, constraint_name string, "
            "column_name string, ordinal_position int",
        ),
        qs["foreign_keys"]: spark.createDataFrame(
            [
                ("public", "orders", "orders_user_fk", "user_id", 1,
                 "public", "users", "id"),
            ],
            "schema_name string, table_name string, constraint_name string, "
            "column_name string, ordinal_position int, "
            "referenced_schema_name string, "
            "referenced_table_name string, referenced_column_name string",
        ),
        qs["indexes"]: spark.createDataFrame(
            [
                ("public", "users", "users_pkey", "id", 1, True, True,
                 "btree"),
                ("public", "orders", "orders_user_idx", "user_id", 1,
                 False, False, "btree"),
            ],
            "schema_name string, table_name string, index_name string, "
            "column_name string, seq_in_index int, is_unique boolean, "
            "is_primary boolean, index_type string",
        ),
        qs["views"]: spark.createDataFrame(
            [("public", "v_users", "SELECT id FROM users")],
            "schema_name string, view_name string, view_definition string",
        ),
        qs["routines"]: spark.createDataFrame(
            [
                ("public", "fn_total", "FUNCTION", "sql", "numeric",
                 "SELECT sum(amount) FROM orders"),
                ("public", "prc_purge", "PROCEDURE", "plpgsql", None,
                 "DELETE FROM orders"),
            ],
            "schema_name string, routine_name string, routine_type string, "
            "language string, return_type string, routine_definition string",
        ),
        qs["triggers"]: spark.createDataFrame(
            [
                ("public", "trg_audit", "INSERT", "orders", "AFTER",
                 "EXECUTE FUNCTION audit()"),
            ],
            "schema_name string, trigger_name string, event string, "
            "table_name string, timing string, action_statement string",
        ),
    }
    return lambda sql: frames[sql]


class TestJdbcCollect:
    def test_document_assembly_from_catalog_sweep(self, spark):
        doc = collect_jdbc_schema(_stub_reader(spark), "postgresql", name="appdb")
        tables = {t["name"]: t for t in doc["tables"]}
        assert set(tables) == {"users", "orders"}
        users = tables["users"]
        # PK column: non-nullable, flagged, typed via the unified mapper
        id_col = users["columns"][0]
        assert id_col["name"] == "id" and id_col["is_primary_key"]
        assert not id_col["is_nullable"]
        assert id_col["data_type"] == "BIGINT"
        assert id_col["unified_type"] == {"Integer": {"bits": 64, "signed": True}}
        # numeric(12,2) → float-precision unified type
        amount = tables["orders"]["columns"][2]
        assert amount["unified_type"] == {"Float": {"precision": 12}}
        # FK edge assembled with referenced side
        (fk,) = tables["orders"]["foreign_keys"]
        assert fk["columns"] == ["user_id"] and fk["referenced_table"] == "users"
        assert fk["referenced_columns"] == ["id"]
        # indexes grouped per table, multi-row → ordered column lists
        assert [ix["name"] for ix in tables["orders"]["indexes"]] == [
            "orders_user_idx"
        ]
        # views / routines / triggers land in their sections
        assert [v["name"] for v in doc["views"]] == ["v_users"]
        assert [p["name"] for p in doc["procedures"]] == ["prc_purge"]
        assert [f["name"] for f in doc["functions"]] == ["fn_total"]
        assert [tr["name"] for tr in doc["triggers"]] == ["trg_audit"]
        # top-level registries flattened
        assert len(doc["indexes"]) == 2
        assert {c["constraint_type"] for c in doc["constraints"]} == {
            "PrimaryKey",
            "ForeignKey",
        }
        # sensitive-column pass runs over live-collected schemas too
        assert doc["collection_metadata"]["warnings"] == [
            "sensitive column users.email: Email field detected"
        ]

    def test_document_validates_and_diffs_cleanly(self, spark):
        import copy

        from dbsurveyor_spark.survey.drift import diff_schema_documents
        from dbsurveyor_spark.survey.export import validate_schema_doc

        doc = collect_jdbc_schema(_stub_reader(spark), "postgresql")
        assert validate_schema_doc(doc) == []
        assert not diff_schema_documents(doc, copy.deepcopy(doc))["has_changes"]


class TestMysqlTypeMapping:
    """Live-MySQL catalogs carry parameterized COLUMN_TYPE ('varchar(255)',
    'int(11)', 'bigint(20) unsigned'); the mapper must receive the bare
    DATA_TYPE plus only the modifiers COLUMN_TYPE alone carries (unsigned,
    TINYINT(1)-as-boolean) — ADVICE r4 high item."""

    def test_parameterized_column_types_map_to_real_types(self, spark):
        from dbsurveyor_spark.sources.jdbc_collect import _map_column_type

        def col(data_type, engine_type, cml=None, np=None, ns=None):
            return {
                "data_type": data_type,
                "engine_type": engine_type,
                "character_maximum_length": cml,
                "numeric_precision": np,
                "numeric_scale": ns,
            }

        assert _map_column_type("mysql", col("varchar", "varchar(255)", cml=255)) == {
            "String": {"max_length": 255}
        }
        assert _map_column_type("mysql", col("int", "int(11)", np=10, ns=0)) == {
            "Integer": {"bits": 32, "signed": True}
        }
        assert _map_column_type(
            "mysql", col("bigint", "bigint(20) unsigned", np=20, ns=0)
        ) == {"Integer": {"bits": 64, "signed": False}}
        assert _map_column_type(
            "mysql", col("decimal", "decimal(10,2)", np=10, ns=2)
        ) == {"Float": {"precision": 10}}
        # TINYINT(1) is boolean by convention; wider tinyints are ints
        assert _map_column_type("mysql", col("tinyint", "tinyint(1)")) == "Boolean"
        assert _map_column_type("mysql", col("tinyint", "tinyint(4)")) == {
            "Integer": {"bits": 8, "signed": True}
        }
        assert _map_column_type(
            "mysql", col("tinyint", "tinyint(3) unsigned")
        ) == {"Integer": {"bits": 8, "signed": False}}


class TestOrderingStrategy:
    """OrderingStrategy detection (models.rs:362; postgres/sampling.rs) —
    recorded per table in the collected document, VERDICT r4 item 5."""

    def test_jdbc_document_records_strategy_and_roundtrips(self, spark):
        from dbsurveyor_spark.survey.export import to_reference_document

        doc = collect_jdbc_schema(_stub_reader(spark), "postgresql")
        tables = {t["name"]: t for t in doc["tables"]}
        # reference precedence (postgres/sampling.rs:336): PrimaryKey wins
        # even when the PK column is also auto-increment
        assert tables["users"]["ordering_strategy"] == {
            "PrimaryKey": {"columns": ["id"]}
        }
        assert tables["users"]["columns"][0]["is_auto_increment"]
        # orders has a plain PK
        assert tables["orders"]["ordering_strategy"] == {
            "PrimaryKey": {"columns": ["order_id"]}
        }
        # the strategy survives reference-format serialization
        ref = to_reference_document(doc)
        assert {t["name"]: t["ordering_strategy"] for t in ref["tables"]} == {
            "users": {"PrimaryKey": {"columns": ["id"]}},
            "orders": {"PrimaryKey": {"columns": ["order_id"]}},
        }

    def test_precedence_unit(self):
        from dbsurveyor_spark.sources.ordering import (
            relational_ordering_strategy as strat,
        )

        ts = {"name": "created_at", "data_type": "TIMESTAMP",
              "ordinal_position": 2}
        plain = {"name": "v", "data_type": "VARCHAR", "ordinal_position": 1}
        auto = {"name": "id", "data_type": "BIGINT", "is_auto_increment": True,
                "ordinal_position": 1}
        # reference precedence (postgres/sampling.rs:336): PK → named
        # timestamp → pattern timestamp → auto-increment → rowid → Unordered
        assert strat([auto, ts], ["id"]) == {"PrimaryKey": {"columns": ["id"]}}
        assert strat([plain, ts], ["v"]) == {"PrimaryKey": {"columns": ["v"]}}
        assert strat([plain, ts], []) == {
            "Timestamp": {"column": "created_at", "direction": "Descending"}
        }
        # partial-pattern pass: name contains created/inserted/timestamp
        pat = {"name": "row_inserted_ts", "data_type": "TIMESTAMP",
               "ordinal_position": 3}
        assert strat([plain, pat], []) == {
            "Timestamp": {"column": "row_inserted_ts",
                          "direction": "Descending"}
        }
        # an arbitrary temporal column (expiry_date-style) is NOT an
        # insertion-order proxy — no unnamed-temporal fallback (ADVICE r5)
        odd = {"name": "seen", "data_type": "TIMESTAMP", "ordinal_position": 3}
        assert strat([plain, odd], []) == "Unordered"
        # auto-increment surfaces only when there is no PK naming it
        assert strat([auto, ts], []) == {
            "Timestamp": {"column": "created_at", "direction": "Descending"}
        }
        assert strat([auto, plain], []) == {"AutoIncrement": {"column": "id"}}
        assert strat([plain], [], has_rowid=True) == {
            "SystemRowId": {"column": "rowid"}
        }
        assert strat([plain], []) == "Unordered"

    def test_sqlite_rowid_alias_detected(self, tmp_path):
        import sqlite3

        from dbsurveyor_spark.sources.sqlite import SqliteSource

        db = str(tmp_path / "t.db")
        con = sqlite3.connect(db)
        con.executescript(
            """
            CREATE TABLE a (id INTEGER PRIMARY KEY, v TEXT);
            CREATE TABLE b (k TEXT PRIMARY KEY, v TEXT) WITHOUT ROWID;
            CREATE TABLE c (v TEXT, created_at TIMESTAMP);
            CREATE TABLE d (v TEXT);
            """
        )
        con.commit(); con.close()
        src = SqliteSource(db)
        t = {n: src.collect_table_schema(n) for n in src.table_names()}
        # INTEGER PRIMARY KEY: pk>0 in table_info → PrimaryKey wins
        # (sqlite/sampling.rs:30 checks PK before auto-increment)
        assert t["a"]["ordering_strategy"] == {"PrimaryKey": {"columns": ["id"]}}
        assert t["a"]["columns"][0]["is_auto_increment"]
        assert t["b"]["ordering_strategy"] == {"PrimaryKey": {"columns": ["k"]}}
        assert t["c"]["ordering_strategy"] == {
            "Timestamp": {"column": "created_at", "direction": "Descending"}
        }
        assert t["d"]["ordering_strategy"] == {"SystemRowId": {"column": "rowid"}}


class TestCollectWithSamples:
    def test_samples_attached_using_recorded_strategies(self, spark):
        base = _stub_reader(spark)

        def reader(sql):
            if sql.startswith("SELECT * FROM"):
                if '"users"' in sql:
                    assert 'ORDER BY "id" DESC' in sql  # AutoIncrement col
                    return spark.createDataFrame(
                        [(2, "b@x.com"), (1, "a@x.com")],
                        "id long, email string",
                    )
                assert 'ORDER BY "order_id" DESC' in sql  # PrimaryKey
                return spark.createDataFrame(
                    [(7, 1, 9.5)], "order_id long, user_id long, amount double"
                )
            return base(sql)

        doc = collect_jdbc_schema(
            reader, "postgresql", sample_size=2, throttle_ms=0
        )
        samples = {s["table_name"]: s for s in doc["samples"]}
        assert set(samples) == {"users", "orders"}
        assert samples["users"]["sampling_strategy"] == {
            "MostRecent": {"limit": 2}
        }
        assert samples["users"]["rows"][0]["id"] == 2
        assert samples["users"]["sample_status"] == "Complete"
        assert samples["orders"]["sample_size"] == 1
        assert any(
            "less than requested" in w for w in samples["orders"]["warnings"]
        )

    def test_sample_rows_are_redacted(self, spark):
        base = _stub_reader(spark)

        def reader(sql):
            if sql.startswith("SELECT * FROM"):
                return spark.createDataFrame(
                    [(2, "b@x.com"), (1, None)], "id long, email string"
                )
            return base(sql)

        def users_rows(**kwargs):
            doc = collect_jdbc_schema(reader, "postgresql", sample_size=2, **kwargs)
            (s,) = [s for s in doc["samples"] if s["table_name"] == "users"]
            return s["rows"]

        # balanced is the default mode, as for lake samples
        assert users_rows() == [
            {"id": 2, "email": "[REDACTED]"},
            {"id": 1, "email": None},
        ]
        assert users_rows(redact_mode="none") == [
            {"id": 2, "email": "b@x.com"},
            {"id": 1, "email": None},
        ]
