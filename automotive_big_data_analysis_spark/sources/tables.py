"""Managed-table write path (reference ops S5/S6: ``insert_into_hive_table``
/ ``create_hive_table``, ``backend/utils.py:15-125``).

The reference formats every value into one giant ``INSERT INTO … VALUES``
SQL string (with hand-rolled NULL/map/array literal rendering and no
escaping). Under Spark none of that exists: a typed DataFrame writes
directly — map columns are native, NULLs are native, and the write is
partition-parallel.

Table layout is chosen for the 100 TB case: parquet, partitioned by a
low-cardinality column when given (partition pruning for year-filtered
queries), append or overwrite semantics explicit at the call site.

Each append writes one file per partition value, and splits a value over
several files only when its rows exceed the session's advisory partition
size. Every read lists and opens every file of the table (the reference
re-scans it per request), so files that one write scatters across its
input's tasks cost each later read a task and an open apiece.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import (
    CAR_DATA_SCHEMA,
    car_data_from_rows,
    load_table,
)


def create_car_table(
    spark: SparkSession,
    path: str,
    partition_by: str | None = "manufacture_year",
) -> None:
    """Create (overwrite) an empty managed car_data dataset at ``path``
    (reference S6 drops + recreates unconditionally; here the overwrite is
    explicit)."""
    empty = spark.createDataFrame([], schema=CAR_DATA_SCHEMA)
    writer = empty.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def insert_rows(
    spark: SparkSession,
    path: str,
    rows: list[dict],
    partition_by: str | None = "manufacture_year",
) -> int:
    """Append row dicts (reference S5). Returns the row count written."""
    insert_df(car_data_from_rows(spark, rows), path, partition_by=partition_by)
    return len(rows)


def insert_df(
    df: DataFrame, path: str, partition_by: str | None = "manufacture_year"
) -> None:
    """Append ``df`` to the dataset at ``path``; returns nothing (counting
    the rows would re-run ``df``'s whole plan as a second job).

    With ``partition_by``, the rows are first rebalanced on that column,
    so each value's rows meet in one write task: one file per value per
    append, split by AQE only when a value's rows exceed the advisory
    partition size. Written straight from ``df``'s own partitions, every
    input task would write its own file into every value's directory."""
    if not partition_by:
        df.write.mode("append").parquet(path)
        return
    (
        df.hint("rebalance", partition_by)
        .write.mode("append")
        .partitionBy(partition_by)
        .parquet(path)
    )


def read_car_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(CAR_DATA_SCHEMA).parquet(path)


def write_year_partitioned_orders(
    spark: SparkSession, sf_dir: str, path: str
) -> None:
    """Re-layout orders partitioned by order year (hive-style dirs).

    At 100 TB this is the difference between scanning everything and
    scanning one year: a filter on the partition column prunes whole
    directories BEFORE any I/O (PartitionFilters in the scan node —
    asserted in ``tests/test_plans.py``). Low-cardinality time buckets
    (year/month) are the standard choice; high-cardinality partition keys
    make millions of tiny files and kill the driver's listing phase."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.partitionBy("o_year").mode("overwrite").parquet(path)


def read_partitioned_orders(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
