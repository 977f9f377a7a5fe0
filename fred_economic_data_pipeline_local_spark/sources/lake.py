"""Lake-layer scans and sinks (bronze JSON-lines, silver/gold parquet).

The reference hand-builds Hive-style partition paths with f-strings and
overwrites whole files (SURVEY.md §1.1); here the layout is declared once
and Spark does dynamic-partition overwrite + partition pruning.

Layouts (parity with the reference's path templates):
    bronze  raw_data/         indicator=/observation_year=/observation_month=   JSON-lines
    silver  processed_data/   indicator=/observation_year=/observation_month=   parquet
    gold    aggregated_data/  indicator=/observation_year=                      parquet
(extract_fred_data.py:216-219, transform_fred_data.py:202,
aggregate_fred_data.py:123)

100 TB notes: partition columns are low-cardinality (indicator x year x
month), so a single ``repartition`` on the partition keys before write
yields one file per partition without small-file explosion. Each ``read_*``
lists every file under its layer root eagerly, when the DataFrame is
created; a filter on partition columns then prunes the listed partitions,
so it narrows what a scan reads, not what is listed. Callers scope their
reads that way (``jobs.run_series`` rebuilds only the silver months and
gold years its window touches), and the dynamic-overwrite sinks then
replace only the partitions present in the written frame.

Every overwrite writer sets ``partitionOverwriteMode=dynamic`` per-write
(not via session conf) so only the partitions present in ``df`` are
replaced even on an externally-built SparkSession — with static overwrite
a per-series catalog loop would silently truncate every other series
under the same root.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ..schemas import BRONZE_SCHEMA, GOLD_SCHEMA, SILVER_SCHEMA

BRONZE_PARTITIONS = ["indicator", "observation_year", "observation_month"]
GOLD_PARTITIONS = ["indicator", "observation_year"]


def write_bronze(df: DataFrame, root: str) -> None:
    """K1: JSON-lines, Hive-partitioned, dynamic overwrite
    (extract_fred_data.py:195-236; replace=True at :225).

    ``df`` is usually a fetch (``extract.fetch_observations``), so it is
    persisted for the duration of the call: the empty check and the write
    read the same rows and each month range is fetched once, not once per
    action."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if df.isEmpty():  # empty short-circuit parity (F3)
            return
        (
            df.repartition(*BRONZE_PARTITIONS)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*BRONZE_PARTITIONS)
            .json(os.path.join(root, "raw_data"))
        )
    finally:
        df.unpersist()


def read_bronze(spark: SparkSession, root: str) -> DataFrame:
    """S2: schema-pinned JSON-lines scan; partition columns come back from
    the directory layout (transform_fred_data.py:69-101)."""
    data_cols = [f for f in BRONZE_SCHEMA.fields if f.name not in BRONZE_PARTITIONS]
    from pyspark.sql.types import StructType

    return spark.read.schema(StructType(data_cols)).json(
        os.path.join(root, "raw_data")
    )


def write_silver(df: DataFrame, root: str) -> None:
    """K2: partitioned parquet with empty-input guard
    (transform_fred_data.py:150-175)."""
    if df.isEmpty():
        return
    (
        df.repartition(*BRONZE_PARTITIONS)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*BRONZE_PARTITIONS)
        .parquet(os.path.join(root, "processed_data"))
    )


def read_silver(spark: SparkSession, root: str) -> DataFrame:
    from pyspark.sql.types import StructType

    data_cols = [f for f in SILVER_SCHEMA.fields if f.name not in BRONZE_PARTITIONS]
    return spark.read.schema(StructType(data_cols)).parquet(
        os.path.join(root, "processed_data")
    )


def write_gold(df: DataFrame, root: str) -> None:
    """K2 (yearly): parquet partitioned on (indicator, year)
    (aggregate_fred_data.py:64-86)."""
    if df.isEmpty():
        return
    (
        df.repartition(*GOLD_PARTITIONS)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*GOLD_PARTITIONS)
        .parquet(os.path.join(root, "aggregated_data"))
    )


def read_gold(spark: SparkSession, root: str) -> DataFrame:
    from pyspark.sql.types import StructType

    data_cols = [f for f in GOLD_SCHEMA.fields if f.name not in GOLD_PARTITIONS]
    return spark.read.schema(StructType(data_cols)).parquet(
        os.path.join(root, "aggregated_data")
    )
