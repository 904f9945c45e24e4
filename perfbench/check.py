"""Per-drop output check: what the lake holds after a drop, against the
same figures recomputed in DuckDB from the dropped CSV.

Expected values come from DuckDB reading the CSV with explicit types and
applying the dataset's quarantine rule; actual values come from Spark
reading the zone tables through the package's own delta and iceberg
readers.  ``check`` returns a list of problems; an empty list means the
drop is correct.
"""

from __future__ import annotations

import duckdb

import workloads as wl

_CUSTOMER_TYPES = {"CustId": "BIGINT", "SourceSystem": "VARCHAR",
                   "Balance": "DECIMAL(12,2)"}


def _partition_filter(path: str) -> str:
    year, month, day = path.split("/")[-4:-1]
    return f"year = '{year}' AND month = '{month}' AND day = '{day}'"


class Checker:
    def __init__(self, spark, workload: wl.Workload) -> None:
        self.spark = spark
        self.wl = workload
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")

    def close(self) -> None:
        self.con.close()

    def _read(self, database: str, table: str):
        from aws_insurancelake_etl_spark.plans.writer import (  # noqa: PLC0415
            lakehouse_table_path,
        )
        from aws_insurancelake_etl_spark.sources import (  # noqa: PLC0415
            delta_lite,
            iceberg_lite,
        )

        path = lakehouse_table_path(self.spark, database, table)
        if self.wl.table_format == "delta":
            return delta_lite.read_delta(self.spark, path)
        return iceberg_lite.read_iceberg(self.spark, path)

    def check(self, drop: wl.Drop, execution_id: str) -> list[str]:
        """Cleanse partition and consume result (row count and decimal
        sum), the drop's quarantined rows, and the entity primary: no
        null gid, one row per gid, every kept (id, source) key present."""
        db, table = self.wl.database, self.wl.table
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE dropped AS SELECT *, Balance >= "
            f"{wl.QUARANTINE_MIN_BALANCE} AS kept FROM read_csv('{drop.path}',"
            " header = true, types = {"
            + ", ".join(f"'{k}': '{v}'" for k, v in _CUSTOMER_TYPES.items())
            + "})")
        kept_rows, kept_sum, quarantined = self.con.execute(
            "SELECT count(*) FILTER (WHERE kept), "
            "sum(Balance) FILTER (WHERE kept), "
            "count(*) FILTER (WHERE NOT kept) FROM dropped").fetchone()
        expected = (kept_rows, kept_sum)
        problems = []
        cleanse = self._read(db, table).where(_partition_filter(drop.path))
        got = tuple(cleanse.selectExpr("count(*)", "sum(balance)")
                    .collect()[0])
        if got != expected:
            problems.append(f"cleanse partition: {got} != {expected}")
        consume = self._read(f"{db}_consume", table)
        got = tuple(consume.selectExpr("count(*)", "sum(balance)")
                    .collect()[0])
        if got != expected:
            problems.append(f"consume: {got} != {expected}")
        got_q = self.spark.table(
            f"`{db}`.`{table}_quarantine_after_transform`").where(
            f"execution_id = '{execution_id}'").count()
        if got_q != quarantined:
            problems.append(f"quarantine: {got_q} != {quarantined} rows")
        primary = self._read(f"{db}_consume", wl.PRIMARY_TABLE).select(
            "gid", "custid", "sourcesystem").toArrow()
        self.con.register("primary_t", primary)
        nulls, rows, gids = self.con.execute(
            "SELECT count(*) FILTER (WHERE gid IS NULL), count(*), "
            "count(DISTINCT gid) FROM primary_t").fetchone()
        if nulls:
            problems.append(f"primary: {nulls} null gids")
        if rows != gids:
            problems.append(f"primary: {rows} rows for {gids} gids")
        missing = self.con.execute(
            "SELECT count(*) FROM dropped d ANTI JOIN primary_t p "
            "ON p.custid = d.CustId AND p.sourcesystem = d.SourceSystem "
            "WHERE d.kept").fetchone()[0]
        if missing:
            problems.append(f"primary: {missing} dropped keys missing")
        self.con.unregister("primary_t")
        return problems
