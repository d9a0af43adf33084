"""Fixture catalog: the driver-generated parquet tables.

The reference's only "source" is TiKV via RawKVClient
(TikvStdSessions.java:85-86); tables are key-prefix namespaces registered in
an in-memory map (TikvStdSessions.java:103-124).  Our sources are columnar
parquet files — Catalyst gets predicate pushdown, column pruning, and
row-group skipping for free, replacing the reference's key-range pruning
(TikvStdSessions.java:451-468).
"""

from __future__ import annotations

import os

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table.  Plain `spark.read.parquet` so every filter /
    projection placed on top reaches the scan (PushedFilters / ReadSchema)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `events` fixture carries parquet TIMESTAMP(NANOS), which Spark 4
    refuses to read natively.  Read nanos as long (runtime-settable legacy
    conf) and normalize to a microsecond TIMESTAMP_NTZ column — NTZ keeps
    every downstream window/format timezone-independent, matching DuckDB's
    naive timestamps."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = load_table(spark, sf_dir, "events")
    if dict(df.dtypes)["ts"] == "bigint":
        # epoch-nanos → NTZ via timestampadd on an NTZ literal: timezone-
        # independent however the driver's session is configured.
        df = df.withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
