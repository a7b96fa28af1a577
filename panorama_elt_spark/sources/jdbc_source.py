"""JDBC (MySQL-shaped) source — the Spark-native reimagination of the
reference's pymysql datasource (``mysql_datasource.py``).

The reference's duck-typed datasource protocol (``panorama_elt.py:77-98``:
``test_connections / get_tables / get_fields / extract_and_load``)
becomes a thin class whose scans are ``spark.read.jdbc`` DataFrames:
projection (P1) and partition equality (P5) are pushed to the database
by Catalyst instead of being string-formatted into SQL.

No JDBC driver jar ships in this sandbox, so ``connect``-time failures
surface as ``JdbcUnavailable`` — the query-construction surface is fully
testable without a live database via ``scan_options``.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession


class JdbcUnavailable(RuntimeError):
    pass


@dataclass
class JdbcSource:
    spark: SparkSession
    url: str  # jdbc:mysql://host:3306/db
    user: str = ""
    password: str = ""
    properties: dict = dc_field(default_factory=dict)

    def scan_options(
        self,
        table: str,
        *,
        partition_column: str | None = None,
        num_partitions: int = 8,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
    ) -> dict[str, str]:
        """The parallel-scan contract: with a numeric partition column the
        read fans out to ``num_partitions`` range-partitioned queries —
        the scalable replacement for the reference's single
        ``cur.fetchall()`` into driver RAM (``mysql_datasource.py:222``)."""
        opts = {
            "url": self.url,
            "dbtable": table,
            "user": self.user,
            "password": self.password,
            **{k: str(v) for k, v in self.properties.items()},
        }
        if partition_column is not None:
            opts.update(
                partitionColumn=partition_column,
                numPartitions=str(num_partitions),
                lowerBound=str(lower_bound if lower_bound is not None else 0),
                upperBound=str(upper_bound if upper_bound is not None else 1 << 31),
            )
        return opts

    def read_table(self, table: str, **kwargs) -> DataFrame:
        try:
            return self.spark.read.format("jdbc").options(
                **self.scan_options(table, **kwargs)
            ).load()
        except Exception as exc:  # driver jar missing, host unreachable, ...
            raise JdbcUnavailable(
                f"JDBC read of {table} failed (driver jar present? host reachable?): {exc}"
            ) from exc

    def current_schema_query(self) -> str:
        """The ``information_schema`` table-list query, dispatched on the
        JDBC URL scheme: MySQL/MariaDB scope the current database with
        ``DATABASE()``, Postgres with ``current_schema()``. Other
        backends get the unscoped ANSI ``information_schema.tables``
        minus the system schemata — coarse but portable."""
        scheme = self.url.split(":")[1].lower() if ":" in self.url else ""
        if scheme in ("mysql", "mariadb"):
            where = "table_schema = DATABASE()"
        elif scheme in ("postgresql", "postgres"):
            where = "table_schema = current_schema()"
        else:
            where = "table_schema NOT IN ('information_schema', 'pg_catalog', 'sys')"
        return f"(SELECT table_name FROM information_schema.tables WHERE {where}) AS t"

    def get_tables(self) -> list[str]:
        """S3 for JDBC: the table list of the connected database (the
        reference's ``SHOW TABLES``, ``mysql_datasource.py:126-135``) —
        read through ``information_schema`` so it pushes down as one
        tiny query, scoped per backend dialect (``current_schema_query``).
        Gated like every live read (``JdbcUnavailable`` without a
        driver jar)."""
        df = self.read_table(self.current_schema_query())
        return sorted(r[0] for r in df.collect())
