"""The driver contract's queries, grouped by operator family.

Each module holds one family's query functions, ``fn(spark, sf_dir) ->
DataFrame``, and beside each one the DuckDB oracle SQL that computes
the same columns and values. ``__spark_entry__.REGISTRY`` names every
operator once, in the driver's order, and flags the 50 entries the
driver records.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
