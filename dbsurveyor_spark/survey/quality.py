"""Data-quality analysis (SURVEY.md §2.C).

Distributed re-expression of the reference's quality module
(`/root/reference/dbsurveyor-core/src/quality/`): the reference analyzes a
driver-side JSON sample row-by-row; we compute the SAME metrics as single-pass
Spark aggregates over the FULL table, so quality holds at 100 TB.

Semantics mirrored precisely:
- completeness (completeness.rs:19): per-column null_count + empty_count
  ("" only — whitespace is NOT empty, completeness.rs:242 test), completeness
  = (total − nulls − empties) / total (models.rs ColumnCompleteness::new);
  table score = average of per-column completeness.
- uniqueness (uniqueness.rs:16): duplicate_count counts repeats beyond the
  first occurrence, with NULL treated as a value (uniqueness.rs:213 test);
  only columns WITH duplicates are reported; row-level duplicates counted as
  exact-row repeats; score = min(row_uniqueness, avg uniqueness of
  duplicate columns) (uniqueness.rs:61-76).
- anomaly (anomaly.rs:22): z-score outliers over numeric columns using
  POPULATION std-dev (anomaly.rs:107), Medium sensitivity threshold 2.5
  (config.rs z_score_threshold); columns need ≥3 numeric values and
  std > 1e-10; only columns with outliers are reported.
- consistency (consistency.rs:70): "looks-like" format heuristics — uuid
  (len 36, dashes at 9/14/19/24 1-indexed, hex), iso_datetime (len ≥ 19,
  has 'T' and ':'), iso_date (len 10, dashes at 5/8), email ('@' and '.'),
  detection order uuid → datetime → date → email; empty strings excluded.
- overall score (analyzer.rs:171): equal-weight mean of completeness,
  consistency, uniqueness.

The test tables contain no NULL/empty values, so completeness/uniqueness run
over a DETERMINISTICALLY DIRTIED projection of `orders` (documented below);
the dirtying is part of the query in both engines, keeping the checks
non-vacuous.

Scale notes: every metric is one (or two, for z-score) map-side-combinable
aggregates; no joins except a broadcast of the 1-row stats frame. Float
aggregates use exact-decimal accumulation; all derived doubles are computed
with the same scalar expression in Spark and DuckDB, so comparisons around
thresholds (z > 2.5, u < 1.0) agree bit-for-bit.
"""

from __future__ import annotations

from datetime import datetime, timezone
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.aggregates import DECIMAL_T, approx_distinct
from .qualityconfig import AnomalySensitivity, QualityConfig

MIN_STD = 1e-10  # anomaly.rs:54
MIN_VALUES = 3  # anomaly.rs:46

# ---------------------------------------------------------------- dirtied view

# Deterministic dirtying: status 'P' → NULL, priority starting '5' → ''.
DIRTY_COLS = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"]
DIRTY_SQL_BODY = """
SELECT
  o_orderkey,
  CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS o_orderstatus,
  CASE WHEN o_orderpriority LIKE '5%' THEN '' ELSE o_orderpriority END AS o_orderpriority,
  o_totalprice
FROM orders
"""


def _dirty_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("o_orderpriority").startswith("5"), "")
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        "o_totalprice",
    )


_STRING_COLS = {"o_orderstatus", "o_orderpriority"}


# -------------------------------------------------------------- completeness


def quality_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _dirty_orders(spark, sf_dir)
    aggs = [F.count(F.lit(1)).alias("__total")]
    for col in DIRTY_COLS:
        aggs.append((F.count(F.lit(1)) - F.count(F.col(col))).alias(f"{col}__nulls"))
        empty = (
            F.sum((F.col(col) == "").cast("bigint"))
            if col in _STRING_COLS
            else F.lit(0)
        )
        aggs.append(F.coalesce(empty, F.lit(0)).cast("bigint").alias(f"{col}__empty"))
    one = df.agg(*aggs)
    # single inline() reshape — see survey_column_profile for rationale
    entries = []
    for col in DIRTY_COLS:
        nulls, empty = F.col(f"{col}__nulls"), F.col(f"{col}__empty")
        entries.append(
            F.struct(
                F.lit(col).alias("column_name"),
                nulls.alias("null_count"),
                empty.alias("empty_count"),
                (
                    (F.col("__total") - nulls - empty).cast("double")
                    / F.col("__total")
                ).alias("completeness"),
            )
        )
    return one.select(F.inline(F.array(*entries)))


def _completeness_sql() -> str:
    parts = []
    for col in DIRTY_COLS:
        empty = (
            f"COALESCE(SUM(CASE WHEN {col} = '' THEN 1 ELSE 0 END), 0)"
            if col in _STRING_COLS
            else "0"
        )
        parts.append(f"""
SELECT '{col}' AS column_name,
       COUNT(*) - COUNT({col}) AS null_count,
       CAST({empty} AS BIGINT) AS empty_count,
       CAST(COUNT(*) - (COUNT(*) - COUNT({col})) - {empty} AS DOUBLE) / COUNT(*)
         AS completeness
FROM dirty""")
    return f"WITH dirty AS ({DIRTY_SQL_BODY})\n" + "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------- uniqueness

UNIQ_TABLE = "customer"
UNIQ_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def _distinct_with_null(col: str) -> Column:
    """Distinct value count treating NULL as a value (uniqueness.rs:33-35)."""
    return F.count_distinct(F.col(col)) + (
        (F.count(F.lit(1)) > F.count(F.col(col))).cast("bigint")
    )


def quality_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, UNIQ_TABLE)
    aggs = [F.count(F.lit(1)).alias("__total")]
    for col in UNIQ_COLS:
        aggs.append(_distinct_with_null(col).alias(f"{col}__dwn"))
    aggs.append(
        F.count_distinct(F.struct(*[F.col(c) for c in UNIQ_COLS])).alias("__row_distinct")
    )
    one = df.agg(*aggs)
    # single inline() reshape — see survey_column_profile for rationale
    entries = []
    for col in UNIQ_COLS:
        dup = F.col("__total") - F.col(f"{col}__dwn")
        entries.append(
            F.struct(
                F.lit(col).alias("column_name"),
                dup.alias("duplicate_count"),
                (
                    (F.col("__total") - dup).cast("double") / F.col("__total")
                ).alias("uniqueness"),
            )
        )
    row_dup = F.col("__total") - F.col("__row_distinct")
    entries.append(
        F.struct(
            F.lit("__rows__").alias("column_name"),
            row_dup.alias("duplicate_count"),
            ((F.col("__total") - row_dup).cast("double") / F.col("__total")).alias(
                "uniqueness"
            ),
        )
    )
    melted = one.select(F.inline(F.array(*entries)))
    # per-column rows only appear when duplicated; the row-level row always does
    return melted.filter(
        (F.col("column_name") == "__rows__") | (F.col("duplicate_count") > 0)
    )


def _uniqueness_sql() -> str:
    parts = []
    for col in UNIQ_COLS:
        dwn = (
            f"(COUNT(DISTINCT {col}) + "
            f"CASE WHEN COUNT(*) > COUNT({col}) THEN 1 ELSE 0 END)"
        )
        parts.append(f"""
SELECT * FROM (
  SELECT '{col}' AS column_name,
         COUNT(*) - {dwn} AS duplicate_count,
         CAST(COUNT(*) - (COUNT(*) - {dwn}) AS DOUBLE) / COUNT(*) AS uniqueness
  FROM {UNIQ_TABLE}
) t WHERE duplicate_count > 0""")
    cols = ", ".join(UNIQ_COLS)
    parts.append(f"""
SELECT '__rows__' AS column_name,
       COUNT(*) - COUNT(DISTINCT ({cols})) AS duplicate_count,
       CAST(COUNT(*) - (COUNT(*) - COUNT(DISTINCT ({cols}))) AS DOUBLE) / COUNT(*)
         AS uniqueness
FROM {UNIQ_TABLE}""")
    return "\nUNION ALL\n".join(parts)


# -------------------------------------------------------------------- anomaly

# events.value is heavy-tailed (real outliers); user_id is uniform (negative
# case, filtered out by the outlier_count > 0 gate). The TPC-H-ish measures
# are uniform draws with max |z| < 2.5, so they'd make the check vacuous.
ANOMALY_TABLE = "events"
ANOMALY_COLS = ["value", "user_id"]


def quality_anomaly_zscore(
    spark: SparkSession,
    sf_dir: str,
    sensitivity: AnomalySensitivity = AnomalySensitivity.MEDIUM,
) -> DataFrame:
    """Two-pass z-score outlier detection.

    Pass 1: exact-decimal Σx and Σx² per column → mean/std as doubles.
    Pass 2: per-row |x−mean|/std > threshold counted per column; the
    threshold comes from the `sensitivity` level (Low/Medium/High →
    3.0/2.5/2.0, config.rs:27) — the registry/oracle pair runs the Medium
    default. The 1-row stats frame is broadcast-cross-joined (no shuffle of
    the fact table).
    """
    z_threshold = sensitivity.z_score_threshold
    df = load_table(spark, sf_dir, ANOMALY_TABLE)
    stats_aggs = []
    for col in ANOMALY_COLS:
        c = F.col(col)
        stats_aggs += [
            F.count(c).alias(f"{col}__n"),
            F.sum(c.cast(DECIMAL_T)).cast("double").alias(f"{col}__s"),
            F.sum((c * c).cast(DECIMAL_T)).cast("double").alias(f"{col}__ss"),
        ]
    stats = df.agg(*stats_aggs)
    for col in ANOMALY_COLS:
        n = F.col(f"{col}__n").cast("double")
        mean = F.col(f"{col}__s") / n
        var = F.greatest(F.lit(0.0), F.col(f"{col}__ss") / n - mean * mean)
        stats = stats.withColumn(f"{col}__mean", mean).withColumn(
            f"{col}__std", F.sqrt(var)
        )
    joined = df.crossJoin(F.broadcast(stats))
    cnt_aggs = []
    for col in ANOMALY_COLS:
        z = F.abs(F.col(col) - F.col(f"{col}__mean")) / F.col(f"{col}__std")
        # nested when: the division only evaluates when std clears the
        # guard, so a constant column can't DIVIDE_BY_ZERO under ANSI mode
        # (reference behavior: such columns are skipped, anomaly.rs:54)
        flag = F.when(
            F.col(f"{col}__std") > MIN_STD,
            F.when(z > z_threshold, F.lit(1)).otherwise(F.lit(0)),
        ).otherwise(F.lit(0))
        cnt_aggs += [
            F.sum(flag.cast("bigint")).alias(f"{col}__outliers"),
            F.first(f"{col}__mean").alias(f"{col}__mean"),
            F.first(f"{col}__std").alias(f"{col}__std"),
            F.first(f"{col}__n").alias(f"{col}__n"),
        ]
    one = joined.agg(*cnt_aggs)
    # single inline() reshape — see survey_column_profile for rationale
    entries = [
        F.struct(
            F.lit(col).alias("column_name"),
            F.col(f"{col}__outliers").alias("outlier_count"),
            F.lit(z_threshold).alias("z_score_threshold"),
            F.col(f"{col}__mean").alias("mean"),
            F.col(f"{col}__std").alias("std_dev"),
            F.col(f"{col}__n").alias("n_values"),
        )
        for col in ANOMALY_COLS
    ]
    return one.select(F.inline(F.array(*entries))).filter(
        (F.col("outlier_count") > 0)
        & (F.col("std_dev") > MIN_STD)
        & (F.col("outlier_count").isNotNull())
        # anomaly.rs:46 — a column needs ≥ MIN_VALUES numeric values
        & (F.col("n_values") >= MIN_VALUES)
    )


def _anomaly_sql(
    sensitivity: AnomalySensitivity = AnomalySensitivity.MEDIUM,
) -> str:
    z_threshold = sensitivity.z_score_threshold
    stat_cols = []
    for col in ANOMALY_COLS:
        stat_cols.append(
            f"COUNT({col}) AS {col}__n, "
            f"CAST(SUM(CAST({col} AS DECIMAL(30,6))) AS DOUBLE) AS {col}__s, "
            f"CAST(SUM(CAST(({col} * {col}) AS DECIMAL(30,6))) AS DOUBLE) AS {col}__ss"
        )
    derived = []
    for col in ANOMALY_COLS:
        derived.append(
            f"{col}__s / CAST({col}__n AS DOUBLE) AS {col}__mean, "
            f"sqrt(greatest(0.0, {col}__ss / CAST({col}__n AS DOUBLE) "
            f"- ({col}__s / CAST({col}__n AS DOUBLE)) * ({col}__s / CAST({col}__n AS DOUBLE)))) AS {col}__std"
        )
    parts = []
    for col in ANOMALY_COLS:
        parts.append(f"""
SELECT * FROM (
  SELECT '{col}' AS column_name,
         CAST(SUM(CASE WHEN {col}__std > {MIN_STD}
                       AND abs({col} - {col}__mean) / {col}__std > {z_threshold}
                  THEN 1 ELSE 0 END) AS BIGINT) AS outlier_count,
         {z_threshold} AS z_score_threshold,
         first({col}__mean) AS mean,
         first({col}__std) AS std_dev,
         first({col}__n) AS n_values
  FROM {ANOMALY_TABLE}, stats
) t WHERE outlier_count > 0 AND std_dev > {MIN_STD}
  AND n_values >= {MIN_VALUES}""")
    return (
        f"WITH raw AS (SELECT {', '.join(stat_cols)} FROM {ANOMALY_TABLE}),\n"
        f"stats AS (SELECT *, {', '.join(derived)} FROM raw)\n"
        + "\nUNION ALL\n".join(parts)
    )


# ---------------------------------------------------------------- consistency

# (column label, SQL expr over its table, table) — string profile sources.
_FORMAT_SOURCES_SQL = [
    ("c_name", "c_name", "customer"),
    ("o_orderpriority", "o_orderpriority", "orders"),
    ("o_orderdate_str", "strftime(o_orderdate, '%Y-%m-%d')", "orders"),
    ("o_orderts_str", "strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S')", "orders"),
    ("props", "props", "events"),
]


def _classify(v: Column) -> Column:
    """Format detection, reference order (consistency.rs:95 detect_format)."""
    is_uuid = (
        (F.length(v) == 36)
        & (F.substring(v, 9, 1) == "-")
        & (F.substring(v, 14, 1) == "-")
        & (F.substring(v, 19, 1) == "-")
        & (F.substring(v, 24, 1) == "-")
        & v.rlike("^[0-9a-fA-F-]{36}$")
    )
    is_dt = (F.length(v) >= 19) & v.contains("T") & v.contains(":")
    is_date = (
        (F.length(v) == 10)
        & (F.substring(v, 5, 1) == "-")
        & (F.substring(v, 8, 1) == "-")
    )
    is_email = v.contains("@") & v.contains(".")
    return (
        F.when(is_uuid, "uuid")
        .when(is_dt, "iso_datetime")
        .when(is_date, "iso_date")
        .when(is_email, "email")
        .otherwise("none")
    )


def quality_format_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = []
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    sources = [
        ("c_name", customer.select(F.col("c_name").alias("v"))),
        ("o_orderpriority", orders.select(F.col("o_orderpriority").alias("v"))),
        (
            "o_orderdate_str",
            orders.select(F.date_format("o_orderdate", "yyyy-MM-dd").alias("v")),
        ),
        (
            "o_orderts_str",
            orders.select(
                F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("v")
            ),
        ),
        ("props", events.select(F.col("props").alias("v"))),
    ]
    for label, df in sources:
        frames.append(
            df.filter(F.col("v").isNotNull() & (F.col("v") != ""))
            .select(_classify(F.col("v")).alias("detected_format"))
            .groupBy("detected_format")
            .agg(F.count(F.lit(1)).alias("value_count"))
            .select(F.lit(label).alias("column_name"), "detected_format", "value_count")
        )
    return reduce(DataFrame.unionByName, frames)


def _classify_sql(v: str) -> str:
    return f"""CASE
  WHEN length({v}) = 36 AND substring({v},9,1)='-' AND substring({v},14,1)='-'
       AND substring({v},19,1)='-' AND substring({v},24,1)='-'
       AND regexp_matches({v}, '^[0-9a-fA-F-]{{36}}$') THEN 'uuid'
  WHEN length({v}) >= 19 AND contains({v}, 'T') AND contains({v}, ':')
       THEN 'iso_datetime'
  WHEN length({v}) = 10 AND substring({v},5,1)='-' AND substring({v},8,1)='-'
       THEN 'iso_date'
  WHEN contains({v}, '@') AND contains({v}, '.') THEN 'email'
  ELSE 'none' END"""


def _consistency_sql() -> str:
    parts = []
    for label, expr, table in _FORMAT_SOURCES_SQL:
        parts.append(f"""
SELECT '{label}' AS column_name, detected_format, COUNT(*) AS value_count
FROM (
  SELECT {_classify_sql(expr)} AS detected_format
  FROM {table}
  WHERE {expr} IS NOT NULL AND {expr} <> ''
) t
GROUP BY detected_format""")
    return "\nUNION ALL\n".join(parts)


# ------------------------------------------------------------- overall score


def quality_score_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-weight table quality score over the dirtied orders projection
    (analyzer.rs:171 calculate_quality_score with default 1.0 weights).

    consistency contributes 1.0: the parquet schema is strongly typed, so the
    reference's type-inconsistency count is structurally zero.
    """
    df = _dirty_orders(spark, sf_dir)
    aggs = [F.count(F.lit(1)).alias("__total")]
    for col in DIRTY_COLS:
        aggs.append((F.count(F.lit(1)) - F.count(F.col(col))).alias(f"{col}__nulls"))
        empty = (
            F.sum((F.col(col) == "").cast("bigint"))
            if col in _STRING_COLS
            else F.lit(0)
        )
        aggs.append(F.coalesce(empty, F.lit(0)).cast("bigint").alias(f"{col}__empty"))
        aggs.append(_distinct_with_null(col).alias(f"{col}__dwn"))
    aggs.append(
        F.count_distinct(F.struct(*[F.col(c) for c in DIRTY_COLS])).alias(
            "__row_distinct"
        )
    )
    one = df.agg(*aggs)
    total = F.col("__total").cast("double")
    comp_terms = []
    uniq_terms = []
    for col in DIRTY_COLS:
        comp_terms.append(
            (
                F.col("__total") - F.col(f"{col}__nulls") - F.col(f"{col}__empty")
            ).cast("double")
            / total
        )
        uniq_terms.append(F.col(f"{col}__dwn").cast("double") / total)
    completeness = reduce(lambda a, b: a + b, comp_terms) / len(DIRTY_COLS)
    # uniqueness.rs:61-76 — avg over duplicate columns only (u < 1.0), else 1.0
    dup_sum = reduce(
        lambda a, b: a + b,
        [F.when(u < 1.0, u).otherwise(F.lit(0.0)) for u in uniq_terms],
    )
    dup_cnt = reduce(
        lambda a, b: a + b,
        [F.when(u < 1.0, F.lit(1)).otherwise(F.lit(0)) for u in uniq_terms],
    )
    avg_col_uniq = F.when(dup_cnt > 0, dup_sum / dup_cnt).otherwise(F.lit(1.0))
    row_uniq = F.col("__row_distinct").cast("double") / total
    uniqueness = F.least(row_uniq, avg_col_uniq)
    consistency = F.lit(1.0)
    return one.select(
        F.lit("orders_dirty").alias("table_name"),
        completeness.alias("completeness_score"),
        consistency.alias("consistency_score"),
        uniqueness.alias("uniqueness_score"),
        ((completeness + consistency + uniqueness) / F.lit(3.0)).alias(
            "quality_score"
        ),
    )


def _score_sql() -> str:
    agg_cols = ["COUNT(*) AS __total"]
    for col in DIRTY_COLS:
        empty = (
            f"COALESCE(SUM(CASE WHEN {col} = '' THEN 1 ELSE 0 END), 0)"
            if col in _STRING_COLS
            else "0"
        )
        agg_cols.append(f"COUNT(*) - COUNT({col}) AS {col}__nulls")
        agg_cols.append(f"CAST({empty} AS BIGINT) AS {col}__empty")
        agg_cols.append(
            f"(COUNT(DISTINCT {col}) + CASE WHEN COUNT(*) > COUNT({col}) "
            f"THEN 1 ELSE 0 END) AS {col}__dwn"
        )
    cols = ", ".join(DIRTY_COLS)
    agg_cols.append(f"COUNT(DISTINCT ({cols})) AS __row_distinct")
    comp = " + ".join(
        f"(CAST(__total - {col}__nulls - {col}__empty AS DOUBLE) / CAST(__total AS DOUBLE))"
        for col in DIRTY_COLS
    )
    uniq_exprs = [
        f"(CAST({col}__dwn AS DOUBLE) / CAST(__total AS DOUBLE))"
        for col in DIRTY_COLS
    ]
    dup_sum = " + ".join(f"(CASE WHEN {u} < 1.0 THEN {u} ELSE 0.0 END)" for u in uniq_exprs)
    dup_cnt = " + ".join(f"(CASE WHEN {u} < 1.0 THEN 1 ELSE 0 END)" for u in uniq_exprs)
    return f"""
WITH dirty AS ({DIRTY_SQL_BODY}),
agg AS (SELECT {", ".join(agg_cols)} FROM dirty),
parts AS (
  SELECT
    ({comp}) / {len(DIRTY_COLS)} AS completeness_score,
    1.0 AS consistency_score,
    least(
      CAST(__row_distinct AS DOUBLE) / CAST(__total AS DOUBLE),
      CASE WHEN ({dup_cnt}) > 0 THEN ({dup_sum}) / ({dup_cnt}) ELSE 1.0 END
    ) AS uniqueness_score
  FROM agg
)
SELECT 'orders_dirty' AS table_name, completeness_score, consistency_score,
       uniqueness_score,
       (completeness_score + consistency_score + uniqueness_score) / 3.0
         AS quality_score
FROM parts
"""


IQR_K = 1.5  # Tukey fence multiplier (the standard box-plot rule)


def quality_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR (Tukey-fence) outlier detection — the robust companion to the
    z-score analyzer: quartiles don't move when the outliers themselves
    inflate the variance, so heavy-tailed columns (like events.value)
    get a stable fence where the z-score's own σ is contaminated.

    Pass 1: exact p25/p75 per column (percentile ↔ quantile_cont, the
    parity proven by survey_numeric_quantiles); fences at Q1 − k·IQR /
    Q3 + k·IQR. Pass 2: per-row fence check counted per column; the
    1-row fence frame broadcasts (no shuffle of the fact table).
    Degenerate columns (IQR = 0) are skipped like MIN_STD in the z-score
    path.
    """
    return iqr_outlier_counts(
        load_table(spark, sf_dir, ANOMALY_TABLE), ANOMALY_COLS
    )


def iqr_outlier_counts(df: DataFrame, cols: list[str]) -> DataFrame:
    """Tukey-fence outlier counts for ``cols`` of ``df`` (the analyzer core
    behind quality_anomaly_iqr, injectable for unit tests)."""
    q_aggs = []
    for col in cols:
        q = F.percentile(F.col(col).cast("double"), F.array(F.lit(0.25), F.lit(0.75)))
        q_aggs.append(q.alias(f"{col}__q"))
        q_aggs.append(F.count(F.col(col)).alias(f"{col}__n"))
    fences = df.agg(*q_aggs)
    for col in cols:
        q1, q3 = F.col(f"{col}__q")[0], F.col(f"{col}__q")[1]
        iqr = q3 - q1
        fences = (
            fences.withColumn(f"{col}__lo", q1 - IQR_K * iqr)
            .withColumn(f"{col}__hi", q3 + IQR_K * iqr)
            .withColumn(f"{col}__iqr", iqr)
        )
    joined = df.crossJoin(F.broadcast(fences))
    cnt_aggs = []
    for col in cols:
        out = F.when(
            F.col(f"{col}__iqr") > 0,
            F.when(
                (F.col(col) < F.col(f"{col}__lo"))
                | (F.col(col) > F.col(f"{col}__hi")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        ).otherwise(F.lit(0))
        cnt_aggs += [
            F.sum(out.cast("bigint")).alias(f"{col}__outliers"),
            F.first(f"{col}__lo").alias(f"{col}__lo"),
            F.first(f"{col}__hi").alias(f"{col}__hi"),
            F.first(f"{col}__iqr").alias(f"{col}__iqr"),
            F.first(f"{col}__n").alias(f"{col}__n"),
        ]
    one = joined.agg(*cnt_aggs)
    entries = [
        F.struct(
            F.lit(col).alias("column_name"),
            F.col(f"{col}__outliers").alias("outlier_count"),
            F.round(F.col(f"{col}__lo"), 9).alias("fence_low"),
            F.round(F.col(f"{col}__hi"), 9).alias("fence_high"),
            F.col(f"{col}__n").alias("n_values"),
        )
        for col in cols
    ]
    return one.select(F.inline(F.array(*entries))).filter(
        (F.col("outlier_count") > 0) & (F.col("n_values") >= MIN_VALUES)
    )


def _anomaly_iqr_sql() -> str:
    parts = []
    for col in ANOMALY_COLS:
        parts.append(f"""
SELECT '{col}' AS column_name,
       CAST(SUM(CASE WHEN iqr > 0 AND (v < lo OR v > hi) THEN 1 ELSE 0 END)
            AS BIGINT) AS outlier_count,
       ROUND(ANY_VALUE(lo), 9) AS fence_low,
       ROUND(ANY_VALUE(hi), 9) AS fence_high,
       ANY_VALUE(n) AS n_values
FROM (
  SELECT CAST({col} AS DOUBLE) AS v, f.lo, f.hi, f.iqr, f.n
  FROM {ANOMALY_TABLE},
       (SELECT q[1] - {IQR_K} * (q[2] - q[1]) AS lo,
               q[2] + {IQR_K} * (q[2] - q[1]) AS hi,
               q[2] - q[1] AS iqr,
               n
        FROM (SELECT quantile_cont(CAST({col} AS DOUBLE), [0.25, 0.75]) AS q,
                     COUNT({col}) AS n
              FROM {ANOMALY_TABLE}) s) f
) t
HAVING SUM(CASE WHEN iqr > 0 AND (v < lo OR v > hi) THEN 1 ELSE 0 END) > 0
   AND ANY_VALUE(n) >= {MIN_VALUES}""")
    return "\nUNION ALL\n".join(parts)


# ------------------------------------------- referential integrity (RI)

# FK edges checked for ROW-level orphan rates (complementary to
# survey_fk_inference's distinct-key containment: a single bad key repeated
# a million times is one containment miss but a million broken rows).
# The synthetic lake is referentially perfect, so — exactly like the
# completeness/uniqueness dirtied view above — child keys are deterministically
# corrupted (key % 37 == 0 → key + 10_000_000) inside the query in BOTH
# engines, keeping the check non-vacuous.
RI_EDGES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("events", "user_id", "customer", "c_custkey"),
]
_RI_MOD = 37
_RI_SHIFT = 10_000_000


def quality_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level referential integrity per FK edge: total child rows, orphan
    rows (dirtied child key absent from parent), orphan rate, integrity
    score — the quality counterpart of models.rs ForeignKey.

    Plan per edge: child projects ONLY the FK column (scan-pruned), parent
    keys are distinct-reduced then anti-joined — dims broadcast under AQE,
    and the count is a map-side-combinable single-row aggregate. NULL child
    keys don't participate (SQL FK semantics) — none exist post-dirtying,
    but the filter keeps semantics explicit.
    """
    frames = []
    for ct, cc, pt, pc in RI_EDGES:
        dirty_key = F.when(
            F.col(cc) % _RI_MOD == 0, F.col(cc) + _RI_SHIFT
        ).otherwise(F.col(cc))
        child = (
            load_table(spark, sf_dir, ct)
            .select(dirty_key.alias("k"))
            .filter(F.col("k").isNotNull())
        )
        parent = (
            load_table(spark, sf_dir, pt).select(F.col(pc).alias("k")).distinct()
        )
        orphans = child.join(parent, "k", "left_anti")
        stats = child.agg(F.count(F.lit(1)).alias("child_rows")).crossJoin(
            orphans.agg(F.count(F.lit(1)).alias("orphan_rows"))
        )
        frames.append(
            stats.select(
                F.lit(ct).alias("child_table"),
                F.lit(cc).alias("child_column"),
                F.lit(pt).alias("parent_table"),
                F.lit(pc).alias("parent_column"),
                "child_rows",
                "orphan_rows",
                F.round(
                    F.col("orphan_rows").cast("double") / F.col("child_rows"), 9
                ).alias("orphan_rate"),
                F.round(
                    1.0 - F.col("orphan_rows").cast("double") / F.col("child_rows"),
                    9,
                ).alias("integrity_score"),
            )
        )
    return reduce(DataFrame.unionByName, frames)


def _referential_integrity_sql() -> str:
    parts = []
    for ct, cc, pt, pc in RI_EDGES:
        dirty = (
            f"CASE WHEN {cc} % {_RI_MOD} = 0 THEN {cc} + {_RI_SHIFT} "
            f"ELSE {cc} END"
        )
        parts.append(f"""
SELECT '{ct}' AS child_table, '{cc}' AS child_column,
       '{pt}' AS parent_table, '{pc}' AS parent_column,
       COUNT(*) AS child_rows,
       CAST(SUM(CASE WHEN k NOT IN (SELECT {pc} FROM {pt} WHERE {pc} IS NOT NULL)
                THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,
       ROUND(SUM(CASE WHEN k NOT IN (SELECT {pc} FROM {pt} WHERE {pc} IS NOT NULL)
                 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 9) AS orphan_rate,
       ROUND(1.0 - SUM(CASE WHEN k NOT IN (SELECT {pc} FROM {pt} WHERE {pc} IS NOT NULL)
                     THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 9) AS integrity_score
FROM (SELECT {dirty} AS k FROM {ct} WHERE {cc} IS NOT NULL) c""")
    return "\nUNION ALL\n".join(parts)


# ------------------------------------------------ document-level collection


# relative standard deviation of pass 1's distinct-count sketches
QUALITY_RSD = 0.02


def _quality_pass1(
    df: DataFrame, num_cols: list[str], rsd: float = QUALITY_RSD
) -> DataFrame:
    """Pass 1 of :func:`collect_quality_metrics` as one 1-row aggregate:
    ``__total``, ``__row_distinct``, per column ``{c}__nonnull`` and
    ``{c}__distinct``, per numeric column ``{c}__mean`` and ``{c}__std``."""
    cols = df.columns
    aggs = [
        F.count(F.lit(1)).alias("__total"),
        approx_distinct(F.struct(*cols), rsd).alias("__row_distinct"),
    ]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nonnull"),
            approx_distinct(F.col(c), rsd).alias(f"{c}__distinct"),
        ]
    for c in num_cols:
        aggs += [
            F.avg(F.col(c).cast("double")).alias(f"{c}__mean"),
            F.stddev_pop(F.col(c).cast("double")).alias(f"{c}__std"),
        ]
    return df.agg(*aggs)


_NUMERIC_TYPES = {
    "int", "bigint", "double", "float", "decimal", "smallint", "tinyint",
}


def numeric_columns(df: DataFrame) -> list[str]:
    """The columns pass 1 takes moments of and pass 2 checks for outliers."""
    return [
        f.name
        for f in df.schema.fields
        # simpleString(): 'int'/'bigint'/'decimal(30,6)' — typeName()
        # would say 'integer'/'long' and silently skip integer columns
        if f.dataType.simpleString().split("(")[0] in _NUMERIC_TYPES
    ]


def _as_float(v):
    # packed rows carry NaN/Infinity as JSON strings
    return float(v) if isinstance(v, str) else v


def outlier_checks(
    r: dict, num_cols: list[str], config: QualityConfig
) -> list[tuple[str, float, float]]:
    """`(column, mean, std)` of each column pass 2 counts outliers in."""
    checks = []
    for c in num_cols if config.anomaly_detection.enabled else []:
        mean, std = _as_float(r.get(f"{c}__mean")), _as_float(r.get(f"{c}__std"))
        if mean is None or std is None or std == 0:
            continue
        checks.append((c, mean, std))
    return checks


def _quality_pass2(
    df: DataFrame, checks: list[tuple[str, float, float]], z_threshold: float
) -> DataFrame:
    """Pass 2 as one 1-row aggregate: per checked column, the count of
    rows with |x-μ| > z·σ under pass 1's moments."""
    return df.agg(
        *[
            F.sum(
                (
                    F.abs(F.col(c).cast("double") - F.lit(m))
                    > z_threshold * F.lit(sd)
                ).cast("bigint")
            ).alias(c)
            for c, m, sd in checks
        ]
    )


def disabled_table_metrics(tname: str, total: int) -> dict:
    """analyzer.rs:68-76 — disabled analysis returns
    TableQualityMetrics::new(...): analyzed_rows = the ACTUAL row count
    (rows.len()), default-valued component metrics (models.rs:121,167,231
    Default impls: score 1.0, empty lists), anomalies: None, quality_score
    1.0, no violations. The document shape must be identical whether
    analysis ran or was skipped."""
    return {
        "table_name": tname,
        "schema_name": None,
        "analyzed_rows": total,
        "completeness": {"score": 1.0, "null_columns": []},
        "consistency": {
            "score": 1.0,
            "type_inconsistencies": [],
            "format_violations": [],
        },
        "uniqueness": {
            "score": 1.0,
            "duplicate_columns": [],
            "duplicate_row_count": 0,
        },
        "anomalies": None,
        "quality_score": 1.0,
        "threshold_violations": [],
        "analyzed_at": datetime.now(timezone.utc).isoformat(),
    }


def table_metrics(
    tname: str,
    cols: list[str],
    r: dict,
    checks: list[tuple[str, float, float]],
    outlier_counts: dict,
    config: QualityConfig,
) -> dict:
    """One TableQualityMetrics dict from pass 1's row ``r`` and pass 2's
    ``outlier_counts`` (column → count, for the columns in ``checks``)."""
    total = r.get("__total") or 0

    null_cols = []
    comp_scores = []
    dup_cols = []
    col_uniq_scores = []  # duplicate columns only (uniqueness.rs:61-64)
    for c in cols:
        nonnull = r[f"{c}__nonnull"]
        nulls = total - nonnull
        comp_scores.append((nonnull / total) if total else 1.0)
        if nulls:
            null_cols.append(
                {
                    "column_name": c,
                    "null_count": nulls,
                    "null_ratio": round(nulls / total, 6),
                }
            )
        uniq = min(r[f"{c}__distinct"], nonnull)
        # HLL reads within 3·rsd of exact-unique are noise, not dups
        if nonnull - uniq < 3 * QUALITY_RSD * nonnull:
            uniq = nonnull
        # uniqueness.rs:33-44 stringifies NULL as a value
        # ("null:__NULL__"), so repeated nulls are duplicates and the
        # denominator is TOTAL rows (ColumnDuplicates::new divides
        # unique_count by total, models.rs:204-209). distinct-with-null
        # = nonnull distincts + one shared bucket for all nulls.
        distinct_vals = min(uniq + (1 if nulls else 0), total)
        dup_count = total - distinct_vals
        if total and dup_count > 0:
            col_uniq_scores.append(distinct_vals / total)
            dup_cols.append(
                {
                    "column_name": c,
                    "duplicate_count": dup_count,
                    "unique_count": distinct_vals,
                    "uniqueness": round(distinct_vals / total, 6),
                }
            )

    outliers = []
    for c, m, sd in checks:
        n_out = outlier_counts.get(c) or 0
        if n_out:
            outliers.append(
                {
                    "column_name": c,
                    "outlier_count": n_out,
                    "z_score_threshold": config.z_score_threshold,
                    "mean": m,
                    "std_dev": sd,
                }
            )

    comp = sum(comp_scores) / len(comp_scores) if comp_scores else 1.0
    row_distinct = min(r["__row_distinct"], total)
    if total - row_distinct < 3 * QUALITY_RSD * total:  # HLL noise floor
        row_distinct = total
    row_uniq = (row_distinct / total) if total else 1.0
    consistency = 1.0  # parquet columns are strongly typed
    # uniqueness.rs:61-76 — min(row uniqueness, avg uniqueness over
    # columns WITH duplicates; 1.0 when no column has any)
    avg_col_uniq = (
        sum(col_uniq_scores) / len(col_uniq_scores) if col_uniq_scores else 1.0
    )
    uniq_score = min(row_uniq, avg_col_uniq)
    score = config.quality_score(comp, consistency, uniq_score)
    return {
        "table_name": tname,
        "schema_name": None,
        "analyzed_rows": total,
        "completeness": {
            "score": round(comp, 6),
            "null_columns": null_cols,
        },
        "consistency": {
            "score": consistency,
            "type_inconsistencies": [],
            "format_violations": [],
        },
        "uniqueness": {
            "score": round(uniq_score, 6),
            "duplicate_columns": dup_cols,
            "duplicate_row_count": total - row_distinct,
        },
        # analyzer.rs:84-91 with_optional_anomalies: None when
        # detection is disabled — a skipped check must not look
        # like a clean one.
        "anomalies": (
            {
                "outlier_count": sum(a["outlier_count"] for a in outliers),
                "outliers": outliers,
            }
            if config.anomaly_detection.enabled
            else None
        ),
        "quality_score": round(score, 6),
        "threshold_violations": config.threshold_violations(
            comp, consistency, uniq_score
        ),
        "analyzed_at": datetime.now(timezone.utc).isoformat(),
    }


def collect_quality_metrics(
    spark: SparkSession,
    sf_dir: str,
    tables: list[str] | None = None,
    *,
    config: QualityConfig | None = None,
) -> list[dict]:
    """TableQualityMetrics-shaped dicts for the schema document
    (quality/models.rs:273 TableQualityMetrics; analyzer.rs:104 weighted
    score; analyzer.rs:98 threshold violations) — the engine behind the
    CLI's `--enable-quality` / `--sensitivity` / `--*-min` flags.

    ``config`` carries sensitivity, minimum thresholds, and score weights
    (defaults = the reference's: Medium/2.5σ, mins 0.95/0.98/0.90, equal
    weights).

    Runs the quality half of the lake scan (`lakescan.survey_lake`): two
    Expand-free aggregate jobs for ALL tables together, each a union of
    one packed 1-row aggregate per table. Pass 1 sweeps counts + HLL
    distincts (per column AND over the full row struct) + numeric
    mean/stddev; pass 2 counts |x-μ| > z·σ outliers using pass 1's
    moments. Distinct ratios use `approx_distinct` — the document records
    ratios, where HLL's ±2% is immaterial, and the exact per-column suite
    (quality_* queries) stays available for oracle-checked analysis. At
    100 TB both passes are single linear scans with tiny aggregation
    state, map-side combinable. `approx_distinct` replaced
    `approx_count_distinct`, whose HyperLogLog++ buffer (410 long columns
    per estimate, no codegen) made pass 1 cost seconds even on tiny tables.

    ``tables`` defaults to every table of the lake; a name the lake lacks
    raises ValueError.
    """
    from .lakescan import survey_lake

    if config is None:
        config = QualityConfig()
    config.validate()
    scan = survey_lake(
        spark,
        sf_dir,
        tables,
        infer_keys=False,
        quality=config,
    )
    return scan.quality_metrics


# ------------------------------------------------------ balance / reconcile

# |computed − stored| ≤ this → the pair reconciles (cents-level tolerance).
BALANCE_TOLERANCE = 0.01


def quality_balance_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: recompute each order's total from its
    lineitems (Σ extendedprice·(1−discount)·(1+tax)) and report how the
    stored ``o_totalprice`` reconciles — the business-rule quality check
    that single-table analyzers (completeness/uniqueness/anomaly) cannot
    express. One summary row: order counts, within-tolerance matches,
    mismatch rate, and the worst absolute drift.

    Plan: lineitem reduces to |orders| rows FIRST (exact-decimal per-order
    aggregate with map-side partials), then one equi-join on the key both
    sides are already hash-partitioned by, then a metadata-sized summary
    aggregate. Lineitem is scanned once, pruned to 5 columns.
    """
    li = load_table(spark, sf_dir, "lineitem")
    computed = (
        li.select(
            "l_orderkey",
            (
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            )
            .cast(DECIMAL_T)
            .alias("line_total"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("line_total").alias("computed_total"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast(DECIMAL_T).alias("stored")
    )
    j = orders.join(
        computed, orders.o_orderkey == computed.l_orderkey, "left"
    )
    diff = F.abs(
        F.col("stored").cast("double") - F.col("computed_total").cast("double")
    )
    has_lines = F.col("computed_total").isNotNull()
    matched = has_lines & (diff <= BALANCE_TOLERANCE)
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_orders"),
        F.sum(has_lines.cast("int")).cast("bigint").alias("orders_with_lines"),
        F.sum(matched.cast("int")).cast("bigint").alias("reconciled"),
        F.sum((has_lines & ~matched).cast("int"))
        .cast("bigint")
        .alias("mismatched"),
        F.round(
            F.sum((has_lines & ~matched).cast("int")).cast("double")
            / F.nullif(F.sum(has_lines.cast("int")), F.lit(0)),
            9,
        ).alias("mismatch_rate"),
        F.round(F.max(F.when(has_lines, diff)), 4).alias("max_abs_diff"),
    )


BALANCE_SQL = f"""
WITH computed AS (
  SELECT l_orderkey,
    SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        AS DECIMAL(30,6))) AS computed_total
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT CAST(o_totalprice AS DECIMAL(30,6)) AS stored, computed_total
  FROM orders LEFT JOIN computed ON o_orderkey = l_orderkey
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS total_orders,
  CAST(SUM(CASE WHEN computed_total IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS orders_with_lines,
  CAST(SUM(CASE WHEN computed_total IS NOT NULL
    AND abs(CAST(stored AS DOUBLE) - CAST(computed_total AS DOUBLE))
        <= {BALANCE_TOLERANCE} THEN 1 ELSE 0 END) AS BIGINT) AS reconciled,
  CAST(SUM(CASE WHEN computed_total IS NOT NULL
    AND NOT (abs(CAST(stored AS DOUBLE) - CAST(computed_total AS DOUBLE))
        <= {BALANCE_TOLERANCE}) THEN 1 ELSE 0 END) AS BIGINT) AS mismatched,
  ROUND(CAST(SUM(CASE WHEN computed_total IS NOT NULL
    AND NOT (abs(CAST(stored AS DOUBLE) - CAST(computed_total AS DOUBLE))
        <= {BALANCE_TOLERANCE}) THEN 1 ELSE 0 END) AS DOUBLE)
    / NULLIF(SUM(CASE WHEN computed_total IS NOT NULL THEN 1 ELSE 0 END), 0), 9)
    AS mismatch_rate,
  ROUND(MAX(CASE WHEN computed_total IS NOT NULL
    THEN abs(CAST(stored AS DOUBLE) - CAST(computed_total AS DOUBLE)) END), 4)
    AS max_abs_diff
FROM j
"""


# ----------------------------------------------------------- timeliness

# Recency windows (days) measured back from the dataset's own watermark.
TIMELINESS_WINDOWS = (1, 7, 30)


def quality_timeliness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeliness — the fourth classic data-quality dimension next to
    completeness/uniqueness/consistency: how fresh is the event stream,
    and is ingest still flowing? All recency is measured against the
    DATASET'S OWN max timestamp (its watermark), never the wall clock —
    deterministic, replayable, and exactly what a batch-lake consumer
    can actually act on (wall-clock lag belongs to the scheduler).

    One summary row: span, event counts/rates inside trailing 1/7/30-day
    windows from the watermark, and the recent-vs-lifetime daily-rate
    ratio (a cold stream scores ≪ 1). Two scan-free-after-first
    aggregates: the watermark agg is 1 row, then one conditional
    aggregate over the pruned (ts) column — map-side combinable.
    """
    events = load_table(spark, sf_dir, "events")
    wm = events.agg(F.max("ts").alias("watermark"))
    e = events.select("ts").join(F.broadcast(wm))
    day = 86400
    # fractional epoch seconds: timestamp→double ≡ DuckDB epoch() (same
    # IEEE expression); long-cast truncation would disagree at boundaries
    age = F.col("watermark").cast("double") - F.col("ts").cast("double")
    span_days = (
        (F.max("watermark").cast("double") - F.min("ts").cast("double"))
        / float(day)
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.date_format(F.max("watermark"), "yyyy-MM-dd HH:mm:ss").alias(
            "watermark"
        ),
        F.round(span_days, 6).alias("span_days"),
    ]
    for d in TIMELINESS_WINDOWS:
        aggs.append(
            F.sum((age <= d * day).cast("int"))
            .cast("bigint")
            .alias(f"events_last_{d}d")
        )
    out = e.agg(*aggs)
    recent_rate = F.col(f"events_last_{TIMELINESS_WINDOWS[-1]}d") / F.lit(
        float(TIMELINESS_WINDOWS[-1])
    )
    lifetime_rate = F.col("n_events") / F.nullif(
        F.col("span_days"), F.lit(0.0)
    )
    return out.select(
        "*",
        F.round(recent_rate / lifetime_rate, 6).alias("recency_rate_ratio"),
    )


def _timeliness_sql() -> str:
    day = 86400
    cols = ", ".join(
        f"CAST(SUM(CASE WHEN epoch(watermark) - epoch(ts) <= {d * day} "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS events_last_{d}d"
        for d in TIMELINESS_WINDOWS
    )
    last = TIMELINESS_WINDOWS[-1]
    return f"""
WITH wm AS (SELECT MAX(ts) AS watermark FROM events),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
    strftime(MAX(watermark), '%Y-%m-%d %H:%M:%S') AS watermark,
    ROUND((epoch(MAX(watermark)) - epoch(MIN(ts))) / {float(day)}, 6)
      AS span_days,
    {cols}
  FROM events, wm
)
SELECT *,
  ROUND((events_last_{last}d / {float(last)})
        / (n_events / NULLIF(span_days, 0.0)), 6) AS recency_rate_ratio
FROM agg
"""


# ------------------------------------------------- distribution drift (PSI)

# Population Stability Index between a reference period and the current
# period — the standard train/serve (or month-over-month) drift gate a data
# pipeline runs before trusting a refreshed feed. (PSI over fixed equi-width
# buckets: Σ (p_cur − p_ref)·ln(p_cur/p_ref); ≥0.2 = action threshold —
# classic credit-scoring monitoring practice, public literature.)
PSI_BUCKETS = 10
PSI_DRIFT_T = 0.2
# (table, value column, period column, period col is timestamp, split date —
# chosen inside each table's own span so both periods are non-empty: events
# cover one month of 2024, orders span 1995..2001)
# Last element: deterministic drift injected into the CURRENT period (the
# synthetic lake is drift-free, so — like the dirtied completeness view —
# one monitored column is shifted in-query in BOTH engines to keep the
# detector non-vacuous: events.value + 100 post-split must trip the flag).
PSI_COLS = (
    ("events", "value", "ts", True, "2024-01-16", 100.0),
    ("orders", "o_totalprice", "o_orderdate", False, "1999-01-01", 0.0),
)


def quality_distribution_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift per monitored column: rows before the split date are the
    reference distribution, rows at/after it the current one; both
    histogram into PSI_BUCKETS equi-width buckets over the GLOBAL min/max.

    Plan per column: one pruned scan → 1-row bounds aggregate broadcast
    back (cross join) → bucket index → ≤B-row conditional-count aggregate
    (map-side combinable; shuffle carries partitions×B partial rows) → the
    PSI arithmetic runs on the B-row metadata frame joined to a generated
    bucket spine (empty buckets participate via Laplace smoothing
    (cnt+0.5)/(n+B/2), so ln never sees zero). Per-bucket terms round to
    9 decimals then sum in DECIMAL — order-free, engine-identical.
    """
    frames = []
    for t, vc, pc, is_ts, psi_split, shift in PSI_COLS:
        split = (
            F.lit(psi_split + " 00:00:00").cast("timestamp")
            if is_ts
            else F.lit(psi_split).cast("date")
        )
        base = (
            load_table(spark, sf_dir, t)
            .select(
                (
                    F.col(vc).cast("double")
                    + F.when(F.col(pc) < split, F.lit(0.0)).otherwise(
                        F.lit(float(shift))
                    )
                ).alias("v"),
                (F.col(pc) < split).alias("is_ref"),
            )
            .filter(F.col("v").isNotNull())
        )
        bounds = base.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        binned = base.crossJoin(F.broadcast(bounds)).select(
            F.when(
                F.col("mx") > F.col("mn"),
                F.least(
                    F.lit(PSI_BUCKETS - 1),
                    F.floor(
                        (F.col("v") - F.col("mn"))
                        / ((F.col("mx") - F.col("mn")) / F.lit(float(PSI_BUCKETS)))
                    ).cast("bigint"),
                ),
            )
            .otherwise(F.lit(0))
            .alias("bucket"),
            "is_ref",
        )
        counts = binned.groupBy("bucket").agg(
            F.sum(F.col("is_ref").cast("bigint")).alias("ref_cnt"),
            F.sum((~F.col("is_ref")).cast("bigint")).alias("cur_cnt"),
        )
        spine = spark.range(PSI_BUCKETS).select(F.col("id").alias("bucket"))
        filled = spine.join(counts, "bucket", "left").select(
            "bucket",
            F.coalesce("ref_cnt", F.lit(0)).alias("ref_cnt"),
            F.coalesce("cur_cnt", F.lit(0)).alias("cur_cnt"),
        )
        tot = filled.agg(
            F.sum("ref_cnt").alias("n_ref"), F.sum("cur_cnt").alias("n_cur")
        )
        sm = F.lit(PSI_BUCKETS / 2.0)
        pr = (F.col("ref_cnt") + F.lit(0.5)) / (F.col("n_ref") + sm)
        pcur = (F.col("cur_cnt") + F.lit(0.5)) / (F.col("n_cur") + sm)
        term = F.round((pcur - pr) * F.log(pcur / pr), 9)
        frames.append(
            filled.crossJoin(F.broadcast(tot))
            .select(
                term.cast("decimal(30,9)").alias("term"), "n_ref", "n_cur"
            )
            .groupBy()
            .agg(
                F.lit(t).alias("table_name"),
                F.lit(vc).alias("column_name"),
                F.first("n_ref").cast("bigint").alias("n_ref"),
                F.first("n_cur").cast("bigint").alias("n_cur"),
                F.round(F.sum("term").cast("double"), 9).alias("psi"),
                (
                    F.round(F.sum("term").cast("double"), 9)
                    >= F.lit(PSI_DRIFT_T)
                )
                .cast("int")
                .alias("drift_flag"),
            )
        )
    return reduce(DataFrame.unionByName, frames)


def _distribution_psi_sql() -> str:
    parts = []
    for t, vc, pc, is_ts, psi_split, shift in PSI_COLS:
        split = (
            f"TIMESTAMP '{psi_split} 00:00:00'" if is_ts else f"DATE '{psi_split}'"
        )
        vexpr = (
            f"CAST({vc} AS DOUBLE) + "
            f"(CASE WHEN {pc} < {split} THEN 0.0 ELSE {float(shift)} END)"
        )
        parts.append(f"""
SELECT '{t}' AS table_name, '{vc}' AS column_name, n_ref, n_cur,
       ROUND(CAST(SUM(CAST(term AS DECIMAL(30,9))) AS DOUBLE), 9) AS psi,
       CAST(ROUND(CAST(SUM(CAST(term AS DECIMAL(30,9))) AS DOUBLE), 9)
            >= {PSI_DRIFT_T} AS INT) AS drift_flag
FROM (
  SELECT f.bucket, f.ref_cnt, f.cur_cnt, tt.n_ref, tt.n_cur,
         ROUND(((f.cur_cnt + 0.5) / (tt.n_cur + {PSI_BUCKETS / 2.0})
                - (f.ref_cnt + 0.5) / (tt.n_ref + {PSI_BUCKETS / 2.0}))
               * ln(((f.cur_cnt + 0.5) / (tt.n_cur + {PSI_BUCKETS / 2.0}))
                    / ((f.ref_cnt + 0.5) / (tt.n_ref + {PSI_BUCKETS / 2.0}))),
               9) AS term
  FROM (
    SELECT s.bucket,
           COALESCE(c.ref_cnt, 0) AS ref_cnt,
           COALESCE(c.cur_cnt, 0) AS cur_cnt
    FROM (SELECT unnest(range({PSI_BUCKETS})) AS bucket) s
    LEFT JOIN (
      SELECT bucket,
             CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_cnt,
             CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cur_cnt
      FROM (
        SELECT CASE WHEN b.mx > b.mn THEN LEAST({PSI_BUCKETS - 1},
                 CAST(FLOOR((v.v - b.mn) / ((b.mx - b.mn) / {float(PSI_BUCKETS)}))
                      AS BIGINT))
               ELSE 0 END AS bucket, v.is_ref
        FROM (SELECT {vexpr} AS v, ({pc} < {split}) AS is_ref
              FROM {t} WHERE {vc} IS NOT NULL) v,
             (SELECT MIN({vexpr}) AS mn,
                     MAX({vexpr}) AS mx
              FROM {t} WHERE {vc} IS NOT NULL) b
      ) bb GROUP BY bucket
    ) c ON c.bucket = s.bucket
  ) f,
  (SELECT CAST(SUM(CASE WHEN {pc} < {split} THEN 1 ELSE 0 END) AS BIGINT)
            AS n_ref,
          CAST(SUM(CASE WHEN {pc} < {split} THEN 0 ELSE 1 END) AS BIGINT)
            AS n_cur
   FROM {t} WHERE {vc} IS NOT NULL) tt
) z GROUP BY n_ref, n_cur""")
    return "\nUNION ALL\n".join(parts)


# ------------------------------------------------------- MAD anomaly scan

# Median-absolute-deviation outlier rule: |x − median| > K · 1.4826 · MAD.
# 1.4826 scales MAD to σ under normality (the standard consistency
# constant); K=3 mirrors the classic "3-sigma" rule but with BOTH location
# and scale estimated robustly — unlike the z-score (whose own σ the
# outliers contaminate) and complementary to the IQR fence (which breaks
# down past 25% contamination vs MAD's 50%).
MAD_K = 3.0
MAD_SIGMA = 1.4826


def quality_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD (median absolute deviation) outlier counts per monitored numeric
    column — the maximally-robust member of the anomaly triad
    (z-score / IQR fence / MAD).

    Plan: pass 1 computes each column's exact median (one aggregate);
    medians broadcast back; pass 2 computes the median of |x − med| the
    same way; pass 3 counts threshold crossings — three map-side-combinable
    aggregates over pruned scans, fences derived with identical double
    expressions in both engines.
    """
    df = load_table(spark, sf_dir, ANOMALY_TABLE)
    med_aggs = [
        F.percentile(F.col(c).cast("double"), F.lit(0.5)).alias(f"{c}__med")
        for c in ANOMALY_COLS
    ]
    meds = df.agg(*med_aggs)
    joined = df.crossJoin(F.broadcast(meds))
    mad_aggs = [
        F.percentile(
            F.abs(F.col(c).cast("double") - F.col(f"{c}__med")), F.lit(0.5)
        ).alias(f"{c}__mad")
        for c in ANOMALY_COLS
    ]
    for c in ANOMALY_COLS:
        mad_aggs.append(F.first(f"{c}__med").alias(f"{c}__med"))
    stats = joined.agg(*mad_aggs)
    scored = df.crossJoin(F.broadcast(stats))
    cnt_aggs = []
    for c in ANOMALY_COLS:
        fence = F.lit(MAD_K) * F.lit(MAD_SIGMA) * F.col(f"{c}__mad")
        out = F.when(
            (F.col(f"{c}__mad") > 0)
            & (
                F.abs(F.col(c).cast("double") - F.col(f"{c}__med")) > fence
            ),
            F.lit(1),
        ).otherwise(F.lit(0))
        cnt_aggs += [
            F.sum(out.cast("bigint")).alias(f"{c}__outliers"),
            F.first(f"{c}__med").alias(f"{c}__med"),
            F.first(f"{c}__mad").alias(f"{c}__mad"),
            F.count(F.col(c)).alias(f"{c}__n"),
        ]
    one = scored.agg(*cnt_aggs)
    entries = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"{c}__outliers").alias("outlier_count"),
            F.round(F.col(f"{c}__med"), 9).alias("median"),
            F.round(F.col(f"{c}__mad"), 9).alias("mad"),
            F.col(f"{c}__n").alias("n_values"),
        )
        for c in ANOMALY_COLS
    ]
    return one.select(F.inline(F.array(*entries))).filter(
        F.col("n_values") >= MIN_VALUES
    )


def _anomaly_mad_sql() -> str:
    parts = []
    for c in ANOMALY_COLS:
        parts.append(f"""
SELECT '{c}' AS column_name,
       CAST(SUM(CASE WHEN mad > 0
                      AND ABS(v - med) > {MAD_K} * {MAD_SIGMA} * mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS outlier_count,
       ROUND(ANY_VALUE(med), 9) AS median,
       ROUND(ANY_VALUE(mad), 9) AS mad,
       CAST(COUNT(v) AS BIGINT) AS n_values
FROM (
  SELECT CAST({c} AS DOUBLE) AS v, m.med, m.mad
  FROM {ANOMALY_TABLE},
       (SELECT med,
               quantile_cont(ABS(CAST({c} AS DOUBLE) - med), 0.5) AS mad
        FROM {ANOMALY_TABLE},
             (SELECT quantile_cont(CAST({c} AS DOUBLE), 0.5) AS med
              FROM {ANOMALY_TABLE}) mm
        GROUP BY med) m
) t
HAVING COUNT(v) >= {MIN_VALUES}""")
    return "\nUNION ALL\n".join(parts)


# ------------------------------------------------ declarative rule checks

# Deequ/dbt-test-style declarative constraint suite: (table, rule name,
# boolean SQL predicate that must hold per row). The predicate strings are
# the single source of truth — Spark evaluates them via F.expr and the
# oracle embeds them verbatim, so the two engines can't drift. The suite
# mixes invariants that hold on this lake (regression tripwires) with
# deliberately TIGHT business SLAs that real rows violate, so both the
# pass and fail paths are exercised end-to-end.
QUALITY_RULES = (
    ("orders", "totalprice_positive", "o_totalprice > 0"),
    ("orders", "status_in_domain", "o_orderstatus IN ('O', 'F', 'P')"),
    ("orders", "orderdate_in_range",
     "o_orderdate BETWEEN DATE '1990-01-01' AND DATE '2005-12-31'"),
    ("lineitem", "quantity_in_range", "l_quantity BETWEEN 1 AND 50"),
    ("lineitem", "discount_in_contract_band", "l_discount <= 0.05"),
    ("lineitem", "price_positive", "l_extendedprice > 0"),
    ("customer", "acctbal_above_floor", "c_acctbal >= -1000"),
    ("events", "value_nonnegative", "value >= 0"),
    ("events", "value_under_cap", "value <= 400"),
)


def quality_rule_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative row-level constraint validation (the Deequ / dbt-test
    check family the reference's fixed analyzers don't cover): every rule
    is a boolean predicate over its table; output one row per rule with
    row/violation counts, violation rate, and the pass flag.

    Plan: ONE pruned scan per table evaluates all of that table's rules as
    conditional sums in a single map-side-combinable aggregate — adding a
    rule adds an expression, never a scan. NULL predicate results count as
    violations (a rule that cannot be evaluated did not pass — SQL
    three-valued logic would silently skip them).
    """
    by_table: dict[str, list[tuple[str, str]]] = {}
    for t, name, pred in QUALITY_RULES:
        by_table.setdefault(t, []).append((name, pred))
    frames = []
    for t, rules in by_table.items():
        df = load_table(spark, sf_dir, t)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for name, pred in rules:
            holds = F.coalesce(F.expr(pred), F.lit(False))
            aggs.append(
                F.sum((~holds).cast("bigint")).alias(f"{name}__viol")
            )
        one = df.agg(*aggs)
        entries = [
            F.struct(
                F.lit(t).alias("table_name"),
                F.lit(name).alias("rule_name"),
                F.col("__rows").alias("n_rows"),
                F.col(f"{name}__viol").alias("violations"),
                F.round(
                    F.col(f"{name}__viol").cast("double") / F.col("__rows"), 9
                ).alias("violation_rate"),
                (F.col(f"{name}__viol") == 0).cast("int").alias("passed"),
            )
            for name, _ in rules
        ]
        frames.append(one.select(F.inline(F.array(*entries))))
    return reduce(DataFrame.unionByName, frames)


def _rule_checks_sql() -> str:
    parts = []
    for t, name, pred in QUALITY_RULES:
        viol = f"SUM(CASE WHEN COALESCE({pred}, FALSE) THEN 0 ELSE 1 END)"
        parts.append(f"""
SELECT '{t}' AS table_name, '{name}' AS rule_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST({viol} AS BIGINT) AS violations,
       ROUND(CAST({viol} AS DOUBLE) / COUNT(*), 9) AS violation_rate,
       CAST({viol} = 0 AS INT) AS passed
FROM {t}""")
    return "\nUNION ALL\n".join(parts)


# ------------------------------------------------------ sequence gap scan

# Ingest-sequence completeness: event_id is the ingest log's dense sequence;
# a gap means dropped events. The synthetic feed is perfectly dense, so —
# the dirtied-in-query convention again — deterministic DROPS are injected
# in both engines: every id ≡ 13 (mod 97) vanishes (isolated single-row
# gaps) and ids ≡ 7,8,9 (mod 499) vanish together (3-wide burst gaps).
_GAP_DROP_SQL = (
    "NOT (event_id % 97 = 13 OR event_id % 499 IN (7, 8, 9))"
)
_GAP_BLOCK = 4096


def quality_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap detection over the ingest log: every maximal run of
    missing event_ids as (gap_start, gap_end, missing) — the dropped-event
    audit a pipeline runs against an at-least-once feed's dense sequence.

    A global lag() over the id order would be a data-sized single-partition
    window; like stream_late_data_report, the predecessor computes as a
    TWO-LEVEL structure instead: within-block lag (bounded partitions) +
    each block's first row takes the previous non-empty block's max via a
    lag over the metadata-sized per-block frame, broadcast back. Every
    stage is partition-parallel.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .filter(F.expr(_GAP_DROP_SQL))
        .select(
            F.expr(f"event_id div {_GAP_BLOCK}").alias("block"), "event_id"
        )
    )
    from pyspark.sql.window import Window

    bstats = ev.groupBy("block").agg(F.max("event_id").alias("bmax"))
    prev_block = bstats.select(
        "block",
        F.lag("bmax").over(Window.orderBy("block")).alias("prev_block_max"),
    )
    in_w = Window.partitionBy("block").orderBy("event_id")
    with_prev = (
        ev.join(F.broadcast(prev_block), "block")
        .withColumn("in_prev", F.lag("event_id").over(in_w))
        .withColumn("prev_id", F.coalesce("in_prev", "prev_block_max"))
    )
    return (
        with_prev.filter(
            F.col("prev_id").isNotNull()
            & (F.col("event_id") - F.col("prev_id") > 1)
        )
        .select(
            (F.col("prev_id") + 1).alias("gap_start"),
            (F.col("event_id") - 1).alias("gap_end"),
            (F.col("event_id") - F.col("prev_id") - 1).alias("missing"),
        )
    )


SEQUENCE_GAPS_SQL = f"""
WITH feed AS (
  SELECT event_id FROM events WHERE {_GAP_DROP_SQL}
),
lagged AS (
  SELECT event_id,
         lag(event_id) OVER (ORDER BY event_id) AS prev_id
  FROM feed
)
SELECT prev_id + 1 AS gap_start,
       event_id - 1 AS gap_end,
       event_id - prev_id - 1 AS missing
FROM lagged
WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
"""




# ------------------------------------------------------- outlier ROW report

OUTLIER_TOP_K = 20
OUTLIER_SPIKE_MOD = 1009  # injected spike ids (event_id % MOD == 0)
OUTLIER_SPIKE_FACTOR = 100.0


def quality_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROW-level companion of the anomaly-count analyzers: the top-K
    most deviant rows per monitored column (id, value, z-score) — what an
    on-call engineer actually opens after `quality_anomaly_zscore` says
    "37 outliers". Counts tell you THAT something is wrong; this shows
    WHICH rows.

    The synthetic feed is uniform (|z| tops out ≈ 1.7), so every
    event_id % 1009 == 0 value is spiked ×100 in-query in both engines —
    the report must surface exactly those at the top.

    Plan per column: one exact-decimal stats aggregate (1-row broadcast) →
    scan-local z — same shape as the z-score analyzer — then
    TakeOrderedAndProject for the top-K (per-partition top-K + driver
    merge; no global sort, no data-sized window).
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "value"
    )
    spiked = events.select(
        "event_id",
        F.when(
            F.col("event_id") % OUTLIER_SPIKE_MOD == 0,
            F.col("value") * OUTLIER_SPIKE_FACTOR,
        )
        .otherwise(F.col("value"))
        .alias("v"),
    )
    dec = "decimal(38,9)"
    stats = spiked.agg(
        (
            F.sum(F.col("v").cast(dec)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mu"),
        F.sum((F.col("v") * F.col("v")).cast(dec)).cast("double").alias("s2"),
        F.count(F.lit(1)).cast("double").alias("n"),
    ).select(
        "mu",
        F.sqrt(F.col("s2") / F.col("n") - F.col("mu") * F.col("mu")).alias(
            "sigma"
        ),
    )
    z = (F.col("v") - F.col("mu")) / F.col("sigma")
    return (
        spiked.join(F.broadcast(stats))
        .select(
            F.lit("events").alias("table_name"),
            F.lit("value").alias("column_name"),
            F.col("event_id").alias("row_id"),
            F.round("v", 6).alias("value"),
            F.round(z, 6).alias("z_score"),
            F.abs(z).alias("_absz"),
        )
        .orderBy(F.desc("_absz"), F.asc("row_id"))
        .limit(OUTLIER_TOP_K)
        .drop("_absz")
    )


OUTLIER_REPORT_SQL = f"""
WITH spiked AS (
  SELECT event_id,
         CASE WHEN event_id % {OUTLIER_SPIKE_MOD} = 0
              THEN value * {OUTLIER_SPIKE_FACTOR} ELSE value END AS v
  FROM events
),
stats AS (
  SELECT CAST(SUM(CAST(v AS DECIMAL(38,9))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS mu,
         SQRT(CAST(SUM(CAST(v * v AS DECIMAL(38,9))) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE)
              - (CAST(SUM(CAST(v AS DECIMAL(38,9))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE))
              * (CAST(SUM(CAST(v AS DECIMAL(38,9))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE))) AS sigma
  FROM spiked
)
SELECT 'events' AS table_name, 'value' AS column_name,
       event_id AS row_id, ROUND(v, 6) AS value,
       ROUND((v - mu) / sigma, 6) AS z_score
FROM spiked CROSS JOIN stats
ORDER BY ABS((v - mu) / sigma) DESC, event_id ASC
LIMIT {OUTLIER_TOP_K}
"""



# -------------------------------------------------- categorical drift (chi2)

CHI2_SPLIT = "2024-01-15 00:00:00"  # reference < split <= current
# deterministic injected drift: in the CURRENT period, every 3rd click
# becomes a view (a logging change collapsing two event names — the classic
# real-world categorical drift) so the detector is non-vacuous.
CHI2_FLAG_T = 0.05  # report flag: p-value proxy via chi2 > critical (df-based)


def quality_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-square drift test for CATEGORICAL columns — the
    companion of `quality_distribution_psi` (numeric buckets): compares
    event_type's distribution before/after the split date. PSI on
    categories needs stable bucket edges; the chi-square homogeneity test
    is the standard categorical form (expected counts from the pooled
    distribution).

    Dirt: in the current period every 3rd click is renamed to view
    in-query in BOTH engines (a logging-schema change collapsing names —
    the categorical drift that actually happens), so the statistic must
    fire.

    Plan: one pruned scan → (category, period) conditional-count aggregate
    (state ≤ 2·|categories|) → all chi-square arithmetic on that bounded
    frame with decimal-summed rounded terms. Critical value for df ≤ 8 at
    α=0.05 is pinned as a literal table — no scipy, same constant both
    engines.
    """
    split = F.lit(CHI2_SPLIT).cast("timestamp")
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "event_id")
    cat = F.when(
        (F.col("ts") >= split)
        & (F.col("event_type") == "click")
        & (F.col("event_id") % 3 == 0),
        F.lit("view"),
    ).otherwise(F.col("event_type"))
    base = ev.select(cat.alias("category"), (F.col("ts") < split).alias("is_ref"))
    from pyspark.sql.window import Window

    counts = base.groupBy("category").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
        .cast("bigint")
        .alias("ref_n"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
        .cast("bigint")
        .alias("cur_n"),
    )
    w = Window.partitionBy()
    en = counts.select(
        "category",
        "ref_n",
        "cur_n",
        F.sum("ref_n").over(w).alias("ref_t"),
        F.sum("cur_n").over(w).alias("cur_t"),
        (F.col("ref_n") + F.col("cur_n")).alias("row_t"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n_all = d("ref_t") + d("cur_t")
    terms = []
    for obs, tot in (("ref_n", "ref_t"), ("cur_n", "cur_t")):
        e = d(tot) * d("row_t") / n_all
        terms.append(
            F.round((d(obs) - e) * (d(obs) - e) / e, 12).cast("decimal(38,12)")
        )
    agg = en.select(
        "category",
        "ref_n",
        "cur_n",
        "k",
        terms[0].alias("t_ref"),
        terms[1].alias("t_cur"),
    ).groupBy().agg(
        F.max("k").cast("bigint").alias("n_categories"),
        (F.sum("t_ref") + F.sum("t_cur")).cast("double").alias("chi2"),
    )
    # chi-square 95th percentile by df (pinned literals, df = k - 1 ≤ 8)
    crit = F.element_at(
        F.array(
            *[
                F.lit(v)
                for v in (3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067, 15.507)
            ]
        ),
        F.least(F.col("n_categories").cast("int") - 1, F.lit(8)),
    )
    return agg.select(
        F.lit("events").alias("table_name"),
        F.lit("event_type").alias("column_name"),
        "n_categories",
        F.round("chi2", 6).alias("chi_square"),
        crit.alias("critical_05"),
        (F.col("chi2") > crit).alias("drift_detected"),
    )


CATEGORICAL_DRIFT_SQL = f"""
WITH base AS (
  SELECT CASE WHEN ts >= TIMESTAMP '{CHI2_SPLIT}' AND event_type = 'click'
                   AND event_id % 3 = 0
              THEN 'view' ELSE event_type END AS category,
         (ts < TIMESTAMP '{CHI2_SPLIT}') AS is_ref
  FROM events
),
counts AS (
  SELECT category,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
         CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
  FROM base GROUP BY category
),
en AS (
  SELECT category, ref_n, cur_n,
         SUM(ref_n) OVER () AS ref_t, SUM(cur_n) OVER () AS cur_t,
         ref_n + cur_n AS row_t, COUNT(*) OVER () AS k
  FROM counts
),
agg AS (
  SELECT CAST(MAX(k) AS BIGINT) AS n_categories,
    CAST(SUM(CAST(ROUND(
      (CAST(ref_n AS DOUBLE)
       - CAST(ref_t AS DOUBLE) * CAST(row_t AS DOUBLE)
         / (CAST(ref_t AS DOUBLE) + CAST(cur_t AS DOUBLE)))
      * (CAST(ref_n AS DOUBLE)
         - CAST(ref_t AS DOUBLE) * CAST(row_t AS DOUBLE)
           / (CAST(ref_t AS DOUBLE) + CAST(cur_t AS DOUBLE)))
      / (CAST(ref_t AS DOUBLE) * CAST(row_t AS DOUBLE)
         / (CAST(ref_t AS DOUBLE) + CAST(cur_t AS DOUBLE))), 12)
      AS DECIMAL(38,12)))
    + SUM(CAST(ROUND(
      (CAST(cur_n AS DOUBLE)
       - CAST(cur_t AS DOUBLE) * CAST(row_t AS DOUBLE)
         / (CAST(ref_t AS DOUBLE) + CAST(cur_t AS DOUBLE)))
      * (CAST(cur_n AS DOUBLE)
         - CAST(cur_t AS DOUBLE) * CAST(row_t AS DOUBLE)
           / (CAST(ref_t AS DOUBLE) + CAST(cur_t AS DOUBLE)))
      / (CAST(cur_t AS DOUBLE) * CAST(row_t AS DOUBLE)
         / (CAST(ref_t AS DOUBLE) + CAST(cur_t AS DOUBLE))), 12)
      AS DECIMAL(38,12))) AS DOUBLE) AS chi2
  FROM en
)
SELECT 'events' AS table_name, 'event_type' AS column_name, n_categories,
  ROUND(chi2, 6) AS chi_square,
  [3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067, 15.507]
    [LEAST(CAST(n_categories AS INTEGER) - 1, 8)] AS critical_05,
  chi2 > [3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067, 15.507]
    [LEAST(CAST(n_categories AS INTEGER) - 1, 8)] AS drift_detected
FROM agg
"""



# ---------------------------------------------------- malformed payloads

DLQ_MOD = 23  # every event_id % 23 == 0 gets its props payload corrupted


def quality_malformed_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter accounting for semi-structured payloads: per ingest day,
    how many events carry an UNPARSEABLE props JSON — the metric that
    routes rows to a DLQ and pages the producer team. Schema inference
    (`survey_json_schema_inference`) assumes parseable payloads; this is
    the gate in front of it.

    The synthetic feed is 100% well-formed, so every DLQ_MOD-th event's
    payload is truncated-corrupted in-query in BOTH engines; the report
    must count exactly those. Validity check: `get_json_object(p, '$')`
    (strict VARIANT parse) on the Spark side ≡ DuckDB `json_valid` for
    these payloads. Map-side flag → one bounded
    (day) aggregate; nothing else shuffles.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "props")
    # corruption PREPENDS the brace: JSON parsers on both engines are
    # lenient about trailing junk after a complete value, strict about a
    # malformed head
    corrupted = F.when(
        F.col("event_id") % DLQ_MOD == 0, F.concat(F.lit("{"), F.col("props"))
    ).otherwise(F.col("props"))
    malformed = corrupted.isNotNull() & F.try_parse_json(corrupted).isNull()
    return (
        ev.select(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
            malformed.cast("int").alias("bad"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("events"),
            F.sum("bad").cast("bigint").alias("malformed"),
        )
        .select(
            "day",
            "events",
            "malformed",
            F.round(
                F.col("malformed").cast("double") / F.col("events"), 9
            ).alias("malformed_rate"),
        )
    )


MALFORMED_JSON_SQL = f"""
WITH ev AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CASE WHEN (CASE WHEN event_id % {DLQ_MOD} = 0
                         THEN '{{{{' || props ELSE props END) IS NOT NULL
                   AND NOT json_valid(CASE WHEN event_id % {DLQ_MOD} = 0
                                           THEN '{{{{' || props
                                           ELSE props END)
              THEN 1 ELSE 0 END AS bad
  FROM events
)
SELECT day, CAST(COUNT(*) AS BIGINT) AS events,
       CAST(SUM(bad) AS BIGINT) AS malformed,
       ROUND(CAST(SUM(bad) AS DOUBLE) / COUNT(*), 9) AS malformed_rate
FROM ev GROUP BY day
"""



# ------------------------------------------------------- null patterns

# deterministic in-query missingness (the synthetic lake is fully dense):
# phone-style column null on %7, email-style on %11, both on %77
NULLPAT_COLS = ("c_acctbal", "c_mktsegment", "c_name")


def quality_null_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null co-MISSINGNESS patterns (R md.pattern / missingno style): per
    distinct null-indicator signature across the monitored columns, the
    row count and share — the table that distinguishes MCAR noise from
    structural missingness (two fields always missing together = an
    upstream join, not random loss). Column-wise null COUNTS
    (`quality_completeness`) cannot see the joint structure.

    Missingness is injected in-query in BOTH engines (c_acctbal on
    custkey %7, c_mktsegment on %11 — so the joint %77 pattern must
    surface with exactly 1/77 density). One map-side signature projection
    → one bounded (≤2^cols) aggregate.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    dirtied = cust.select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 11 != 0, F.col("c_mktsegment")).alias(
            "c_mktsegment"
        ),
        F.when(F.col("c_custkey") % 7 != 0, F.col("c_acctbal")).alias(
            "c_acctbal"
        ),
    )
    sig = F.concat_ws(
        "",
        *[
            F.when(F.col(c).isNull(), F.lit("0")).otherwise(F.lit("1"))
            for c in NULLPAT_COLS
        ],
    )
    total = dirtied.count()
    return (
        dirtied.select(sig.alias("pattern"))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .select(
            F.lit("customer").alias("table_name"),
            F.lit(",".join(NULLPAT_COLS)).alias("columns"),
            "pattern",
            "n_rows",
            F.round(
                F.col("n_rows").cast("double") / F.lit(float(total)), 9
            ).alias("share"),
        )
    )


NULL_PATTERNS_SQL = f"""
WITH dirtied AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 11 <> 0 THEN c_mktsegment END AS c_mktsegment,
         CASE WHEN c_custkey % 7 <> 0 THEN c_acctbal END AS c_acctbal
  FROM customer
),
sig AS (
  SELECT (CASE WHEN c_acctbal IS NULL THEN '0' ELSE '1' END)
      || (CASE WHEN c_mktsegment IS NULL THEN '0' ELSE '1' END)
      || (CASE WHEN c_name IS NULL THEN '0' ELSE '1' END) AS pattern
  FROM dirtied
)
SELECT 'customer' AS table_name,
       '{",".join(NULLPAT_COLS)}' AS columns,
       pattern, CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / (SELECT CAST(COUNT(*) AS DOUBLE) FROM customer), 9) AS share
FROM sig GROUP BY pattern
"""

# ------------------------------------------------- completeness trend

# Injected missingness (deterministic, replayed by the oracle): the
# monitored column degrades ~0.1%/month — the slow producer-side rot that
# a snapshot completeness score can't see — while the control column
# holds a flat 5% rate. Slope threshold: flag columns losing more than
# 0.05%/month.
TREND_SLOPE_T = 0.0005


def quality_completeness_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness TREND: monthly null-rate time series per monitored
    column with a closed-form OLS slope and a `deteriorating` flag — the
    time-dimension upgrade of `quality_completeness` (a snapshot score of
    85% cannot distinguish "always 15% null" from "0% a year ago, rotting
    monthly"). The injected degradation on one column must flag; the
    flat-rate control column must not.

    Plan: map-side month index + injected null flags → ONE bounded
    (column × month) aggregate; the OLS slope is window arithmetic over
    the ≤\\|months\\| frame (x = month index, y = the rounded monthly
    rate, same closed form as `text_zipf_fit`). Nothing data-sized
    shuffles beyond the one aggregate.
    """
    from pyspark.sql.window import Window

    from ..functions.hashing import portable_hash64

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    mi = (
        (F.year("o_orderdate") - F.lit(1995)) * 12
        + F.month("o_orderdate")
        - F.lit(1)
    )
    h = portable_hash64(
        F.concat(F.lit("ctrend_"), F.col("o_orderkey").cast("string"))
    )
    rows = orders.select(
        mi.alias("mi"),
        (h % 1000 < mi).cast("int").alias("null_deg"),
        (h % 1000 < 50).cast("int").alias("null_ctl"),
    )
    monthly = rows.groupBy("mi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("null_deg").cast("bigint").alias("nd"),
        F.sum("null_ctl").cast("bigint").alias("nc"),
    )
    # ONE monthly frame → (column, month) rows via inline (a per-column
    # union would replan the orders aggregate once per column); the OLS
    # slope is a window per column over the ≤2·|months| frame.
    entries = [
        F.struct(
            F.lit(colname).alias("column_name"),
            F.col("mi").cast("bigint").alias("month_idx"),
            F.col("n_rows"),
            F.col(nullcol).alias("n_null"),
            F.round(F.col(nullcol) / F.col("n_rows"), 6).alias("null_rate"),
        )
        for colname, nullcol in (
            ("o_orderpriority_degrading", "nd"),
            ("o_orderstatus_control", "nc"),
        )
    ]
    base = monthly.select(F.inline(F.array(*entries)))
    w = Window.partitionBy("column_name")
    x = F.col("month_idx").cast("double")
    slope = (
        F.count(F.lit(1)).over(w) * F.sum(x * F.col("null_rate")).over(w)
        - F.sum(x).over(w) * F.sum("null_rate").over(w)
    ) / (
        F.count(F.lit(1)).over(w) * F.sum(x * x).over(w)
        - F.sum(x).over(w) * F.sum(x).over(w)
    )
    return base.select(
        "column_name",
        "month_idx",
        "n_rows",
        "n_null",
        "null_rate",
        F.round(slope, 9).alias("slope_per_month"),
        (slope > TREND_SLOPE_T).alias("deteriorating"),
    )


def _completeness_trend_sql() -> str:
    from ..functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("'ctrend_' || CAST(o_orderkey AS VARCHAR)")
    branches = []
    for colname, nullcol in (
        ("o_orderpriority_degrading", "nd"),
        ("o_orderstatus_control", "nc"),
    ):
        branches.append(f"""
SELECT '{colname}' AS column_name, CAST(mi AS BIGINT) AS month_idx,
       n_rows, {nullcol} AS n_null,
       ROUND({nullcol} / n_rows, 6) AS null_rate,
       ROUND((COUNT(*) OVER ()
              * SUM(CAST(mi AS DOUBLE) * ROUND({nullcol} / n_rows, 6)) OVER ()
              - SUM(CAST(mi AS DOUBLE)) OVER ()
                * SUM(ROUND({nullcol} / n_rows, 6)) OVER ())
             / (COUNT(*) OVER ()
                * SUM(CAST(mi AS DOUBLE) * CAST(mi AS DOUBLE)) OVER ()
                - SUM(CAST(mi AS DOUBLE)) OVER ()
                  * SUM(CAST(mi AS DOUBLE)) OVER ()), 9) AS slope_per_month,
       ((COUNT(*) OVER ()
         * SUM(CAST(mi AS DOUBLE) * ROUND({nullcol} / n_rows, 6)) OVER ()
         - SUM(CAST(mi AS DOUBLE)) OVER ()
           * SUM(ROUND({nullcol} / n_rows, 6)) OVER ())
        / (COUNT(*) OVER ()
           * SUM(CAST(mi AS DOUBLE) * CAST(mi AS DOUBLE)) OVER ()
           - SUM(CAST(mi AS DOUBLE)) OVER ()
             * SUM(CAST(mi AS DOUBLE)) OVER ())) > {TREND_SLOPE_T}
         AS deteriorating
FROM monthly""")
    body = "\nUNION ALL\n".join(branches)
    return f"""
WITH rows_m AS (
  SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mi,
         CASE WHEN {h} % 1000
                   < (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
              THEN 1 ELSE 0 END AS null_deg,
         CASE WHEN {h} % 1000 < 50 THEN 1 ELSE 0 END AS null_ctl
  FROM orders
),
monthly AS (
  SELECT mi, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(null_deg) AS BIGINT) AS nd,
         CAST(SUM(null_ctl) AS BIGINT) AS nc
  FROM rows_m GROUP BY mi
)
{body}
"""


# ------------------------------------------------------- KS drift test

KS_BUCKETS = 32
KS_CRIT_COEF = 1.358  # two-sample Kolmogorov-Smirnov alpha=0.05 coefficient


def quality_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test per monitored numeric
    column between a reference period (orders ≤ 1997) and the current one
    (≥ 1998) — the DISTRIBUTION-shape member of the drift triad (PSI bins
    shares, chi-square handles categories; KS's sup-norm on the ECDFs
    catches location/scale shifts that leave bin shares individually
    small). D is computed on KS_BUCKETS global equi-width bucket ECDFs
    (the streaming-friendly discretization — exact KS needs a global
    sort); the α=0.05 critical value 1.358·√((n₁+n₂)/(n₁·n₂)) is the
    pinned closed form. A ×1.15 price shift on every 3rd current-period
    order is injected in-query (both engines); the id-uniform control
    column must not flag.

    Plan: one pruned scan → 1-row global bounds agg broadcast back →
    bounded (side × bucket) aggregate; ECDFs, D, and the decision are
    window arithmetic over the ≤2·KS_BUCKETS frame.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice", "o_custkey"
    )
    side = F.when(F.year("o_orderdate") <= 1997, F.lit("ref")).otherwise(
        F.lit("cur")
    )
    price = F.when(
        (F.col("o_orderkey") % 3 == 0) & (F.year("o_orderdate") >= 1998),
        F.col("o_totalprice") * F.lit(1.15),
    ).otherwise(F.col("o_totalprice"))
    vals = orders.select(
        side.alias("side"),
        price.alias("v_price"),
        F.col("o_custkey").cast("double").alias("v_ctl"),
    )
    outs = []
    for colname, vcol in (
        ("o_totalprice_shifted", "v_price"),
        ("o_custkey_control", "v_ctl"),
    ):
        sub = vals.select("side", F.col(vcol).alias("v"))
        bounds = sub.agg(
            F.min("v").alias("mn"), F.max("v").alias("mx")
        )
        bucket = F.least(
            F.lit(KS_BUCKETS - 1),
            F.floor(
                (F.col("v") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
                * KS_BUCKETS
            ),
        ).cast("bigint")
        counts = (
            sub.crossJoin(F.broadcast(bounds))
            .select("side", bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(
                F.sum(F.when(F.col("side") == "ref", 1).otherwise(0))
                .cast("bigint")
                .alias("c_ref"),
                F.sum(F.when(F.col("side") == "cur", 1).otherwise(0))
                .cast("bigint")
                .alias("c_cur"),
            )
        )
        w = Window.partitionBy().orderBy("bucket")
        wall = Window.partitionBy()
        cum = counts.select(
            "bucket",
            (
                F.sum("c_ref").over(w)
                / F.sum("c_ref").over(wall).cast("double")
            ).alias("f_ref"),
            (
                F.sum("c_cur").over(w)
                / F.sum("c_cur").over(wall).cast("double")
            ).alias("f_cur"),
            F.sum("c_ref").over(wall).cast("bigint").alias("n_ref"),
            F.sum("c_cur").over(wall).cast("bigint").alias("n_cur"),
        )
        d = F.max(F.abs(F.col("f_ref") - F.col("f_cur")))
        outs.append(
            cum.groupBy("n_ref", "n_cur")
            .agg(F.round(d, 9).alias("ks_d"))
            .select(
                F.lit(colname).alias("column_name"),
                "n_ref",
                "n_cur",
                "ks_d",
                F.round(
                    F.lit(KS_CRIT_COEF)
                    * F.sqrt(
                        (F.col("n_ref") + F.col("n_cur")).cast("double")
                        / (F.col("n_ref") * F.col("n_cur")).cast("double")
                    ),
                    9,
                ).alias("ks_critical"),
                (
                    F.col("ks_d")
                    > F.round(
                        F.lit(KS_CRIT_COEF)
                        * F.sqrt(
                            (F.col("n_ref") + F.col("n_cur")).cast("double")
                            / (F.col("n_ref") * F.col("n_cur")).cast("double")
                        ),
                        9,
                    )
                ).alias("drifted"),
            )
        )
    return outs[0].unionByName(outs[1])


def _ks_drift_sql() -> str:
    branches = []
    for colname, vexpr in (
        (
            "o_totalprice_shifted",
            "CASE WHEN o_orderkey % 3 = 0 AND year(o_orderdate) >= 1998 "
            "THEN o_totalprice * 1.15 ELSE o_totalprice END",
        ),
        ("o_custkey_control", "CAST(o_custkey AS DOUBLE)"),
    ):
        branches.append(f"""
SELECT '{colname}' AS column_name, n_ref, n_cur, ks_d,
       ROUND({KS_CRIT_COEF} * sqrt(CAST(n_ref + n_cur AS DOUBLE)
             / CAST(n_ref * n_cur AS DOUBLE)), 9) AS ks_critical,
       ks_d > ROUND({KS_CRIT_COEF} * sqrt(CAST(n_ref + n_cur AS DOUBLE)
             / CAST(n_ref * n_cur AS DOUBLE)), 9) AS drifted
FROM (
  SELECT n_ref, n_cur, ROUND(MAX(ABS(f_ref - f_cur)), 9) AS ks_d
  FROM (
    SELECT bucket,
           SUM(c_ref) OVER (ORDER BY bucket) /
             CAST(SUM(c_ref) OVER () AS DOUBLE) AS f_ref,
           SUM(c_cur) OVER (ORDER BY bucket) /
             CAST(SUM(c_cur) OVER () AS DOUBLE) AS f_cur,
           CAST(SUM(c_ref) OVER () AS BIGINT) AS n_ref,
           CAST(SUM(c_cur) OVER () AS BIGINT) AS n_cur
    FROM (
      SELECT bucket,
             CAST(SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
               AS c_ref,
             CAST(SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
               AS c_cur
      FROM (
        SELECT side,
               CAST(LEAST({KS_BUCKETS - 1},
                    FLOOR((v - mn) / (mx - mn) * {KS_BUCKETS})) AS BIGINT)
                 AS bucket
        FROM (
          SELECT CASE WHEN year(o_orderdate) <= 1997
                      THEN 'ref' ELSE 'cur' END AS side,
                 {vexpr} AS v
          FROM orders
        ) CROSS JOIN (
          SELECT MIN(v) AS mn, MAX(v) AS mx FROM (
            SELECT {vexpr} AS v FROM orders
          )
        )
      ) GROUP BY bucket
    )
  ) GROUP BY n_ref, n_cur
)""")
    return "\nUNION ALL\n".join(branches)


# -------------------------------------------------- cross-table contracts

# |o_totalprice − Σ line revenue| tolerance, in 1e-6 price units (= 0.01).
CROSS_PRICE_TOL = 10_000


def quality_cross_table_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE business-contract validation — the rules no single-table
    scan (`quality_rule_checks`) or FK orphan count
    (`quality_referential_integrity`) can see:

    * `order_has_lines` — every order carries ≥1 line (childless parents,
      the inverse of the orphan check);
    * `ship_not_before_order` — no line ships before its order was placed
      (temporal contract across the FK edge);
    * `totalprice_matches_lines` — the order header's denormalized total
      equals Σ extendedprice·(1−discount)·(1+tax) within 0.01 (the classic
      header/detail reconciliation).

    Plan: ONE groupBy(l_orderkey) pre-aggregates the line side to order
    grain (min shipdate + exact revenue sum), ONE left join against
    orders on the shared key — both sides shuffle once, co-keyed — then a
    single map-side-combinable 1-row aggregate evaluates every rule;
    adding a rule adds an expression, never a join. Money math is integer:
    cents × (100−d%) × (100+t%) ≤ ~1e12 per line sums exactly in int64, so
    the reconciliation is bit-identical in any engine at any partitioning
    (a double Σ would be merge-order-dependent precisely at the tolerance
    boundary this rule tests).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    lines = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount", "l_tax"
    )
    scaled = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
        * (F.lit(100) + F.round(F.col("l_tax") * 100).cast("bigint"))
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("min_ship"),
        F.sum(scaled).alias("sum_scaled"),
    )
    joined = orders.join(
        per_order, orders["o_orderkey"] == per_order["l_orderkey"], "left"
    )
    has_lines = F.col("l_orderkey").isNotNull()
    tp_scaled = F.round(F.col("o_totalprice") * F.lit(1e6)).cast("bigint")
    price_bad = has_lines & (
        F.abs(tp_scaled - F.col("sum_scaled")) > CROSS_PRICE_TOL
    )
    ship_bad = has_lines & (F.col("min_ship") < F.col("o_orderdate"))
    agg = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum((~has_lines).cast("bigint")).alias("childless"),
        F.sum(has_lines.cast("bigint")).alias("with_lines"),
        F.sum(ship_bad.cast("bigint")).alias("ship_viol"),
        F.sum(price_bad.cast("bigint")).alias("price_viol"),
    )
    rules = [
        ("order_has_lines", F.col("n_orders"), F.col("childless")),
        ("ship_not_before_order", F.col("with_lines"), F.col("ship_viol")),
        ("totalprice_matches_lines", F.col("with_lines"), F.col("price_viol")),
    ]
    entries = [
        F.struct(
            F.lit(name).alias("rule_name"),
            checked.alias("n_checked"),
            viol.alias("violations"),
            F.round(viol.cast("double") / checked, 9).alias(
                "violation_rate"
            ),
            (viol == 0).cast("int").alias("passed"),
        )
        for name, checked, viol in rules
    ]
    return agg.select(F.inline(F.array(*entries)))


def _cross_table_checks_sql() -> str:
    return f"""
WITH per_order AS (
  SELECT l_orderkey, MIN(l_shipdate) AS min_ship,
         CAST(SUM(
           CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
           * (100 + CAST(ROUND(l_tax * 100) AS BIGINT))
         ) AS BIGINT) AS sum_scaled
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderkey, o.o_orderdate,
         CAST(ROUND(o.o_totalprice * 1e6) AS BIGINT) AS tp_scaled,
         p.l_orderkey, p.min_ship, p.sum_scaled
  FROM orders o LEFT JOIN per_order p ON p.l_orderkey = o.o_orderkey
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS childless,
         CAST(SUM(CASE WHEN l_orderkey IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS with_lines,
         CAST(SUM(CASE WHEN l_orderkey IS NOT NULL
                        AND min_ship < o_orderdate THEN 1 ELSE 0 END)
              AS BIGINT) AS ship_viol,
         CAST(SUM(CASE WHEN l_orderkey IS NOT NULL
                        AND abs(tp_scaled - sum_scaled) > {CROSS_PRICE_TOL}
                   THEN 1 ELSE 0 END) AS BIGINT) AS price_viol
  FROM j
)
SELECT 'order_has_lines' AS rule_name, n_orders AS n_checked,
       childless AS violations,
       ROUND(CAST(childless AS DOUBLE) / n_orders, 9) AS violation_rate,
       CAST(childless = 0 AS INT) AS passed
FROM agg
UNION ALL
SELECT 'ship_not_before_order', with_lines, ship_viol,
       ROUND(CAST(ship_viol AS DOUBLE) / with_lines, 9),
       CAST(ship_viol = 0 AS INT)
FROM agg
UNION ALL
SELECT 'totalprice_matches_lines', with_lines, price_viol,
       ROUND(CAST(price_viol AS DOUBLE) / with_lines, 9),
       CAST(price_viol = 0 AS INT)
FROM agg
"""


# --------------------------------------------------- category novelty

NOVEL_NEW_MOD = 101  # current-period events re-tagged to the NEW category
NOVEL_GONE_MOD = 97  # reference-period events tagged with a category that
#                      never recurs — the VANISHED case


def quality_category_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-SET drift: which enum values are NEW in the current
    period, which VANISHED since the reference period — the
    schema-evolution alert (a producer shipped a new event name / retired
    one) that chi-square homogeneity blurs into one statistic and PSI's
    fixed buckets can't represent at all. Deequ's isContainedIn /
    "distinctness of category sets" monitoring shape.

    Dirt (both engines, in-query): every NOVEL_NEW_MOD-th current event
    becomes `promo_click` (the newly shipped event) and every
    NOVEL_GONE_MOD-th reference event becomes `legacy_beacon` (the
    retired one) — NEW and VANISHED rows must both surface.

    Plan: one pruned scan → per-category conditional-count aggregate
    (state ≤ |categories|+2) → status/share arithmetic over that bounded
    frame (the partition-less total window runs on the enum-bounded
    counts frame, same contract as `quality_categorical_drift`).
    """
    from pyspark.sql.window import Window

    split = F.lit(CHI2_SPLIT).cast("timestamp")
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "event_id"
    )
    is_ref = F.col("ts") < split
    cat = (
        F.when(~is_ref & (F.col("event_id") % NOVEL_NEW_MOD == 0),
               F.lit("promo_click"))
        .when(is_ref & (F.col("event_id") % NOVEL_GONE_MOD == 0),
              F.lit("legacy_beacon"))
        .otherwise(F.col("event_type"))
    )
    counts = (
        ev.select(cat.alias("category"), is_ref.alias("is_ref"))
        .groupBy("category")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
            .cast("bigint")
            .alias("ref_n"),
            F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
            .cast("bigint")
            .alias("cur_n"),
        )
    )
    w = Window.partitionBy()
    status = (
        F.when(F.col("ref_n") == 0, F.lit("NEW"))
        .when(F.col("cur_n") == 0, F.lit("VANISHED"))
        .otherwise(F.lit("STABLE"))
    )
    return counts.select(
        F.lit("event_type").alias("column_name"),
        "category",
        "ref_n",
        "cur_n",
        status.alias("status"),
        F.round(
            F.col("cur_n").cast("double")
            / F.nullif(F.sum("cur_n").over(w), F.lit(0)),
            9,
        ).alias("cur_share"),
    )


CATEGORY_NOVELTY_SQL = f"""
WITH base AS (
  SELECT CASE
           WHEN ts >= TIMESTAMP '{CHI2_SPLIT}'
                AND event_id % {NOVEL_NEW_MOD} = 0 THEN 'promo_click'
           WHEN ts < TIMESTAMP '{CHI2_SPLIT}'
                AND event_id % {NOVEL_GONE_MOD} = 0 THEN 'legacy_beacon'
           ELSE event_type
         END AS category,
         ts < TIMESTAMP '{CHI2_SPLIT}' AS is_ref
  FROM events
),
counts AS (
  SELECT category,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
         CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
  FROM base GROUP BY category
)
SELECT 'event_type' AS column_name, category, ref_n, cur_n,
       CASE WHEN ref_n = 0 THEN 'NEW'
            WHEN cur_n = 0 THEN 'VANISHED'
            ELSE 'STABLE' END AS status,
       round(CAST(cur_n AS DOUBLE)
             / NULLIF(CAST(SUM(cur_n) OVER () AS BIGINT), 0), 9)
         AS cur_share
FROM counts
"""


QUERIES = {
    "quality_category_novelty": quality_category_novelty,
    "quality_cross_table_checks": quality_cross_table_checks,
    "quality_ks_drift": quality_ks_drift,
    "quality_completeness_trend": quality_completeness_trend,
    "quality_null_patterns": quality_null_patterns,
    "quality_malformed_json": quality_malformed_json,
    "quality_categorical_drift": quality_categorical_drift,
    "quality_outlier_report": quality_outlier_report,
    "quality_anomaly_mad": quality_anomaly_mad,
    "quality_sequence_gaps": quality_sequence_gaps,
    "quality_rule_checks": quality_rule_checks,
    "quality_distribution_psi": quality_distribution_psi,
    "quality_timeliness": quality_timeliness,
    "quality_balance_check": quality_balance_check,
    "quality_completeness": quality_completeness,
    "quality_uniqueness": quality_uniqueness,
    "quality_anomaly_zscore": quality_anomaly_zscore,
    "quality_format_consistency": quality_format_consistency,
    "quality_score_table": quality_score_table,
    "quality_referential_integrity": quality_referential_integrity,
    "quality_anomaly_iqr": quality_anomaly_iqr,
}

ORACLES = {
    "quality_category_novelty": CATEGORY_NOVELTY_SQL,
    "quality_cross_table_checks": _cross_table_checks_sql(),
    "quality_ks_drift": _ks_drift_sql(),
    "quality_completeness_trend": _completeness_trend_sql(),
    "quality_null_patterns": NULL_PATTERNS_SQL,
    "quality_malformed_json": MALFORMED_JSON_SQL,
    "quality_categorical_drift": CATEGORICAL_DRIFT_SQL,
    "quality_outlier_report": OUTLIER_REPORT_SQL,
    "quality_anomaly_mad": _anomaly_mad_sql(),
    "quality_sequence_gaps": SEQUENCE_GAPS_SQL,
    "quality_rule_checks": _rule_checks_sql(),
    "quality_distribution_psi": _distribution_psi_sql(),
    "quality_balance_check": BALANCE_SQL,
    "quality_timeliness": _timeliness_sql(),
    "quality_referential_integrity": _referential_integrity_sql(),
    "quality_anomaly_iqr": _anomaly_iqr_sql(),
    "quality_completeness": _completeness_sql(),
    "quality_uniqueness": _uniqueness_sql(),
    "quality_anomaly_zscore": _anomaly_sql(),
    "quality_format_consistency": _consistency_sql(),
    "quality_score_table": _score_sql(),
}
