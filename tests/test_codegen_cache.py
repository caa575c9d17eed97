"""A session compiles each plan shape once.

Spark compiles generated code (Janino, then the JIT) only on a miss of its
generated-class cache. `session.get_session` sizes that cache to the
engine's working set, and `catalog.harden_session` names whole-stage
classes without their stage id, so identical pipelines share one class.
Each test counts the classes its own work compiled (`classes_compiled`,
Spark's `CodegenMetrics`), so the tests hold in any order and next to any
other test of the session.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import functions as F

from dbsurveyor_spark.catalog import harden_session
from dbsurveyor_spark.session import classes_compiled
from dbsurveyor_spark.survey.export import collect_database_schema
from dbsurveyor_spark.survey.qualityconfig import QualityConfig

from .conftest import SF_SMALL


def _compiles(spark, fn) -> int:
    before = classes_compiled(spark)
    fn()
    return classes_compiled(spark) - before


def test_second_identical_collect_compiles_nothing(spark):
    def collect():
        collect_database_schema(spark, SF_SMALL, sample=5, quality=QualityConfig())

    first = _compiles(spark, collect)
    again = _compiles(spark, collect)
    # a cache smaller than one collect's classes recompiles most of them
    assert again == 0, (first, again)


def test_identical_pipelines_at_two_stage_ids_compile_once(spark):
    harden_session(spark)
    # a predicate no earlier query has compiled
    salt = uuid.uuid4().int % 1_000_003

    def pipeline(salt: int):
        return (
            spark.range(0, 4000, 1, 2)
            .select((F.col("id") * 7 + salt).alias("x"))
            .filter(F.col("x") % 11 == salt % 11)
        )

    def write(df):
        df.write.format("noop").mode("overwrite").save()

    write(pipeline(salt))  # compiles the classes that do not depend on the salt
    one = _compiles(spark, lambda: write(pipeline(salt + 1)))
    two = pipeline(salt + 2).unionByName(pipeline(salt + 2))
    stages = set(re.findall(r"\*\((\d+)\)", two._jdf.queryExecution().executedPlan().toString()))
    assert len(stages) == 2, stages  # the union's branches: two whole-stage pipelines
    assert one >= 1
    assert _compiles(spark, lambda: write(two)) == one
