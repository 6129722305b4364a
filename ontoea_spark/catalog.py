"""Test-fixture catalog: loaders for the driver-provided parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings, one parquet per table under an sf dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
