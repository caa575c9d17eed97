"""Cross-engine-deterministic aggregates.

Floating-point SUM/AVG results depend on accumulation order, which differs
between Spark partitions and the DuckDB oracle (and between runs at different
parallelism). Every float aggregate in this engine therefore goes through an
EXACT decimal accumulator: per-row arithmetic stays in double (bit-identical
in any IEEE-754 engine), the row value is cast to DECIMAL, summed exactly
(order-free), and the final total is cast back to double.

This also matters at 100 TB: results become independent of partition count,
AQE decisions, and speculative re-execution.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# 30 digits, 6 fractional: holds sums of ~1e17 values of magnitude ~1e6.
DECIMAL_T = "decimal(30,6)"


def dsum(col: Column, alias: str) -> Column:
    """Order-independent SUM over a double expression, returned as double."""
    return F.sum(col.cast(DECIMAL_T)).cast("double").alias(alias)


def dsum_sql(expr: str, alias: str) -> str:
    """DuckDB fragment matching :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE) AS {alias}"


def davg(col: Column, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum divided by count, as double."""
    return (
        F.sum(col.cast(DECIMAL_T)).cast("double") / F.count(F.lit(1))
    ).alias(alias)


def davg_sql(expr: str, alias: str) -> str:
    """DuckDB fragment matching :func:`davg`."""
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS {alias}"
    )


def approx_distinct(col: Column, rsd: float = 0.02) -> Column:
    """Approximate count of distinct non-null values of ``col``.

    A DataSketches HLL sketch (``hll_sketch_agg``) over the 64-bit
    ``xxhash64`` of each value. ``approx_count_distinct`` (HyperLogLog++)
    keeps one long aggregation-buffer column per 10 registers -- 410 at
    rsd 0.02 -- and runs without whole-stage codegen, so a wide table's
    estimates cost seconds however few its rows; the sketch is one binary
    buffer per estimate. ``lg_k`` gives the same register count
    (``2^lg_k >= (1.04/rsd)^2``, 4096 at the default rsd) and is clamped to
    the sketch's 4..21 range. Nulls are not counted: ``xxhash64(NULL)`` is
    the seed, so they are masked out before hashing. A struct column is
    hashed the way HyperLogLog++ hashes it, skipping null fields.
    """
    lg_k = min(21, max(4, math.ceil(2 * math.log2(1.04 / rsd))))
    hashed = F.when(col.isNotNull(), F.xxhash64(col))
    return F.coalesce(
        F.hll_sketch_estimate(F.hll_sketch_agg(hashed, lg_k)), F.lit(0)
    )
