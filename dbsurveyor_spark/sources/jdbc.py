"""JDBC source: partitioned reads with pushdown, credential-safe logging.

Parity: `dbsurveyor-core/src/adapters/postgres/connection.rs` +
`mysql/connection.rs` (connect, list tables, collect schema, sample). The
reference opens a sqlx pool and pages rows through the driver; on Spark the
same surface is the JDBC DataFrame reader, where:

- `partitionColumn/lowerBound/upperBound/numPartitions` split the table into
  parallel range scans (the scale path: 1000 executors each read a slice);
- filters/projections push into the remote database as SQL (Catalyst JDBC
  pushdown), so `survey` queries don't drag the full table over the wire;
- `fetchsize` controls driver paging (the analog of the reference's
  batch_collection batching).

No JDBC driver jar nor live database exists in this container, so tests
exercise option-building and URL sanitization only; `.load()` is smoke-able
anywhere a driver jar is on the classpath.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..security import JDBC_SCHEMES, parse_connection_string


@dataclass
class JdbcSource:
    """One remote database reachable over JDBC."""

    url: str  # user-facing URL, possibly with credentials embedded
    fetchsize: int = 10_000

    def __post_init__(self) -> None:
        info, creds = parse_connection_string(self.url)
        scheme = JDBC_SCHEMES.get(info.scheme, info.scheme)
        self._info = info
        self._creds = creds
        port = f":{info.port}" if info.port else ""
        self.jdbc_url = f"jdbc:{scheme}://{info.host}{port}/{info.database or ''}"

    @property
    def safe_url(self) -> str:
        """Loggable URL — never contains credentials."""
        return self._info.to_safe_string()

    def __repr__(self) -> str:  # never echo credentials
        return f"JdbcSource({self.safe_url!r})"

    def custom_schema(self, columns: list[tuple[str, object]]) -> str:
        """`customSchema` option string from (name, UnifiedDataType) pairs
        collected off information_schema (sources/typemap.py). Pinning the
        Spark-side schema makes partitioned reads deterministic across
        driver versions — JDBC type inference varies by driver, and a
        schema drift between executors' connections corrupts a 1000-slice
        parallel read."""
        from .typemap import unified_to_spark_ddl

        return ", ".join(
            f"{name} {unified_to_spark_ddl(u)}" for name, u in columns
        )

    def reader_options(
        self,
        table: str,
        partition_column: str | None = None,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
        num_partitions: int | None = None,
        pushdown_predicate: str | None = None,
        columns: list[tuple[str, object]] | None = None,
    ) -> dict[str, str]:
        """Build the JDBC reader option map.

        With a partition column, Spark issues `numPartitions` parallel range
        queries — required for any table that shouldn't be read through one
        connection. `pushdown_predicate` becomes a dbtable subquery so the
        remote engine filters before shipping rows. `columns` (unified-type
        pairs) pins an explicit customSchema.
        """
        dbtable = table
        if pushdown_predicate:
            dbtable = f"(SELECT * FROM {table} WHERE {pushdown_predicate}) AS t"
        opts: dict[str, str] = {
            "url": self.jdbc_url,
            "dbtable": dbtable,
            "fetchsize": str(self.fetchsize),
            "pushDownPredicate": "true",
            "pushDownLimit": "true",
        }
        if columns:
            opts["customSchema"] = self.custom_schema(columns)
        if self._creds.username:
            opts["user"] = self._creds.username
        if self._creds.has_password():
            opts["password"] = self._creds.password() or ""
        if partition_column is not None:
            if lower_bound is None or upper_bound is None or num_partitions is None:
                raise ValueError(
                    "partition_column requires lower_bound, upper_bound, num_partitions"
                )
            opts.update(
                partitionColumn=partition_column,
                lowerBound=str(lower_bound),
                upperBound=str(upper_bound),
                numPartitions=str(num_partitions),
            )
        return opts

    def read_table(self, spark: SparkSession, table: str, **kwargs) -> DataFrame:
        """Load one table (partitioned when kwargs say so)."""
        return spark.read.format("jdbc").options(**self.reader_options(table, **kwargs)).load()

    def read_query(self, spark: SparkSession, sql: str) -> DataFrame:
        """Push an arbitrary SQL query to the remote engine."""
        opts = {
            "url": self.jdbc_url,
            "query": sql,
            "fetchsize": str(self.fetchsize),
        }
        if self._creds.username:
            opts["user"] = self._creds.username
        if self._creds.has_password():
            opts["password"] = self._creds.password() or ""
        return spark.read.format("jdbc").options(**opts).load()
