"""Checksum-twin reducer (queries/_util.py checksum / o_checksum): the
Spark reducer and its DuckDB mirror agree on the rendering edges the
sf0.01 fixtures do not reach."""

from __future__ import annotations

import datetime as dt

import duckdb
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from rag_pipelines_spark.queries._util import Key, Part, checksum, o_checksum
from tests.conftest import assert_df_equal

_ROWS = [
    # id, grp, tag, ts, v, w
    (1, "a", "x", dt.datetime(2024, 1, 2, 3, 4, 5, 123456), -1.25, 0.123456789),
    (2, "a", None, dt.datetime(2024, 1, 2, 3, 4, 5, 1), 2.5, -0.987654321),
    (3, None, "y", None, -0.05, 1.0),
    (4, "b", None, dt.datetime(2024, 12, 31, 23, 59, 59, 999999), 10.0, 1e-9),
    (5, None, "z", dt.datetime(2024, 6, 1), -7.99, -0.5),
]


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, str):
        return f"'{v}'"
    return repr(v)


def test_checksum_renderings_match_duckdb(spark):
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("grp", StringType()),
            StructField("tag", StringType()),
            StructField("ts", TimestampNTZType()),
            StructField("v", DoubleType()),
            StructField("w", DoubleType()),
        ]
    )
    df = spark.createDataFrame(_ROWS, schema)
    values = ", ".join(
        "(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in _ROWS
    )
    base_sql = (
        "SELECT CAST(id AS BIGINT) AS id, grp, tag, ts, "
        "CAST(v AS DOUBLE) AS v, CAST(w AS DOUBLE) AS w "
        f"FROM (VALUES {values}) t(id, grp, tag, ts, v, w)"
    )
    sums = {"id_sum": Part("id"), "w_e9_sum": Part("w", scale=9)}
    parts = [
        Part("id"),
        Part("tag", null="NONE"),
        Part("ts", ts="us", null="OPEN"),
        Part("ts", ts="s", null="OPEN"),
        Part("v", dec="18,2"),
        Part("w", scale=9),
    ]
    con = duckdb.connect()
    try:
        for key in (None, Key("grp"), Key("id", shards=2), Key("id", buckets=4)):
            assert_df_equal(
                checksum(df, key, "n", sums, parts),
                con.sql(o_checksum(base_sql, key, "n", sums, parts)),
                f"key={key}",
            )
    finally:
        con.close()
