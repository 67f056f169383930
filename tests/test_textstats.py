"""Unit tests for text-analytics column builders."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.textstats import (
    char_chunks,
    punct_ratio,
    whitespace_token_count,
)


@pytest.fixture(scope="module")
def spark():
    from rag_pipelines_spark.session import get_spark

    return get_spark("textstats-tests", shuffle_partitions=4)


def _one(spark, col):
    return (
        spark.createDataFrame([("hello, world! x2 done",)], ["text"])
        .select(col.alias("v"))
        .collect()[0]["v"]
    )


def test_token_counts(spark):
    assert _one(spark, whitespace_token_count(F.col("text"))) == 4


def test_punct_ratio(spark):
    v = _one(spark, punct_ratio(F.col("text")))
    assert abs(v - 2 / 21) < 1e-12  # ',' and '!' over 21 chars


def test_char_chunks_cover_text_with_overlap(spark):
    df = spark.createDataFrame([(1, "x" * 250)], ["id", "text"])
    rows = [
        (r["chunk_idx"], r["chunk"])
        for r in char_chunks(df, "id", "text", size=100, stride=80)
        .orderBy("chunk_idx")
        .collect()
    ]
    assert [i for i, _ in rows] == [0, 1, 2, 3]
    assert len(rows[0][1]) == 100
    assert rows[3][1] == "x" * 10  # tail chunk


def test_char_chunks_empty_and_null(spark):
    # empty non-null text: floor(-1/stride) = -1 makes sequence(0,-1) emit
    # [0,-1] — both substrings are '' and must yield zero chunks; NULL
    # text explodes nothing
    df = spark.createDataFrame(
        [("e", ""), ("n", None), ("s", "ab")], ["k", "text"]
    )
    got = [
        (r["k"], r["chunk_idx"], r["chunk"])
        for r in char_chunks(df, "k", "text", size=100, stride=80).collect()
    ]
    assert got == [("s", 0, "ab")]
