"""Readers for the driver's synthetic fixture tables (TESTDATA.md).

All loads are plain `spark.read.parquet` so Catalyst gets full predicate
pushdown / column pruning; no schema inference cost (parquet is
self-describing). At cluster scale each table is a directory of many
files — the same call distributes the scan.
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


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame.

    `events.ts` is stored as parquet TIMESTAMP(NANOS), which Spark reads as
    a long (see session.py nanosAsLong); convert to a microsecond timestamp
    with integer arithmetic (no double round-trip — ns epoch values exceed
    double's 53-bit mantissa). DuckDB truncates ns→us the same way.
    """
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    # String->timestamp literal casts (TPC-H date bounds) resolve in the
    # session timezone; the DuckDB oracles compare wall-clock timestamps.
    # Pin UTC at read time so a foreign session (the driver's) on a
    # non-UTC host can't shift filter boundaries off the oracle's.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS): a vanilla SparkSession (e.g.
        # the driver's) throws PARQUET_TYPE_ILLEGAL. nanosAsLong is runtime-
        # settable, so make the read self-sufficient instead of relying on
        # session.py having built the session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
