"""Independent output checks.

Plain PySpark and Python over the generated inputs; nothing here imports
``hoodie_spark``, so a defect in the table format cannot hide itself by
also corrupting the expected answer. Each check returns a list of
mismatch messages (empty when the output is right); every mismatch counts
as one failed operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .gen import DOCS_SCHEMA, ORDER_COLUMNS, ORDERS_SCHEMA, to_arrow


def frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over generated rows."""
    return spark.createDataFrame(to_arrow(rows, schema))


def checksum(df: DataFrame, cols) -> tuple[int, int]:
    """(row count, order-independent sum of per-row xxhash64)."""
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")) \
            .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return int(row["n"]), int(row["s"] or 0)


def compare_checksums(what: str, actual: tuple[int, int],
                      expected: tuple[int, int]) -> list[str]:
    if actual == expected:
        return []
    return [f"{what}: rows/checksum {actual} != expected {expected}"]


def final_orders(spark, snapshot: DataFrame, expected_rows,
                 expected_sum: tuple[int, int] | None = None) -> list[str]:
    exp = expected_sum or checksum(
        frame(spark, expected_rows, ORDERS_SCHEMA), ORDER_COLUMNS)
    return compare_checksums("final snapshot",
                             checksum(snapshot, ORDER_COLUMNS), exp)


def final_docs(spark, snapshot: DataFrame, admitted_rows) -> list[str]:
    cols = DOCS_SCHEMA.names
    exp = checksum(frame(spark, admitted_rows, DOCS_SCHEMA), cols)
    return compare_checksums("final snapshot", checksum(snapshot, cols), exp)


def same_keys(what: str, actual, expected) -> list[str]:
    a, e = set(actual), set(expected)
    if len(a) != len(list(actual)):
        return [f"{what}: duplicate keys returned"]
    if a == e:
        return []
    return [f"{what}: {len(a - e)} unexpected, {len(e - a)} missing keys"]


def same_value(what: str, actual, expected) -> list[str]:
    return [] if actual == expected else [f"{what}: {actual} != {expected}"]


class OrdersModel:
    """The expected table, maintained batch by batch: the last written
    row of every live key, plus per-status row count and price total (in
    cents) for the per-round read check."""

    def __init__(self, base):
        self.rows: dict[int, tuple] = {}
        self.agg: dict[str, list[int]] = {}
        for r in base:
            self._put(r)

    def _put(self, row) -> None:
        self._drop(row[0])
        self.rows[row[0]] = row
        a = self.agg.setdefault(row[2], [0, 0])
        a[0] += 1
        a[1] += round(row[3] * 100)

    def _drop(self, key) -> None:
        old = self.rows.pop(key, None)
        if old is not None:
            a = self.agg[old[2]]
            a[0] -= 1
            a[1] -= round(old[3] * 100)

    def apply_upserts(self, rows) -> None:
        for r in rows:
            self._put(r)

    def apply_deletes(self, rows) -> None:
        for r in rows:
            self._drop(r[0])

    def expected_read(self) -> dict[str, tuple[int, int]]:
        return {st: (a[0], a[1]) for st, a in self.agg.items() if a[0]}


def orders_read(df: DataFrame) -> dict[str, tuple[int, int]]:
    """The fixed snapshot aggregate: rows and cents per order status."""
    rows = (df.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("o_totalprice") * 100)
                       .cast("long")).alias("cents"))
            .collect())
    return {r["o_orderstatus"]: (int(r["n"]), int(r["cents"])) for r in rows}


def docs_read(df: DataFrame) -> tuple[int, int]:
    """The fixed snapshot aggregate: rows and characters."""
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.length("text")).alias("chars")).first()
    return int(r["n"]), int(r["chars"] or 0)
