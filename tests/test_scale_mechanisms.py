"""Scale-mechanism tests: salting correctness, bucketed shuffle-free joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def spark():
    from rag_pipelines_spark.session import get_spark

    return get_spark("scale-tests", shuffle_partitions=8)


def test_salted_count_matches_direct(spark):
    from rag_pipelines_spark.operators.skew import salted_count

    # one hot key (90%), several cold keys
    df = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 < 9, "HOT").otherwise(
            F.concat(F.lit("cold"), (F.col("id") % 7).cast("string"))
        ).alias("k")
    )
    direct = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    salted = {r["k"]: r["n"] for r in salted_count(df, ["k"], salt_buckets=16).collect()}
    assert salted == direct


def test_replicated_skew_join_matches_plain(spark):
    from rag_pipelines_spark.operators.skew import replicated_skew_join

    facts = spark.range(0, 5_000).select(
        F.when(F.col("id") % 5 < 4, 1).otherwise((F.col("id") % 50).cast("int")).alias("k"),
        F.col("id").alias("fact_id"),
    )
    dim = spark.range(0, 50).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("dim-"), F.col("id").cast("string")).alias("payload"),
    )
    plain = facts.join(dim, "k").groupBy("k").agg(F.count("*").alias("n"))
    salted = replicated_skew_join(facts, dim, "k", salt_buckets=8).groupBy("k").agg(
        F.count("*").alias("n")
    )
    assert {(r["k"], r["n"]) for r in plain.collect()} == {
        (r["k"], r["n"]) for r in salted.collect()
    }


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketing both sides on the join key removes the shuffle entirely —
    the join plan must contain no Exchange over the bucketed scans."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    import shutil

    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    # a crashed prior run can orphan the managed-table location
    for d in ("spark-warehouse/b_lineitem", "spark-warehouse/b_orders"):
        shutil.rmtree(d, ignore_errors=True)
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(
        "b_lineitem"
    )
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
        "b_orders"
    )
    bl, bo = spark.table("b_lineitem"), spark.table("b_orders")
    joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey).groupBy().agg(
        F.count("*").alias("n")
    )
    # at sf0.01 the small side auto-broadcasts (which also avoids the
    # shuffle but doesn't exercise bucketing) — force the sort-merge path
    # this table layout targets at scale
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        join_section = plan.split("HashAggregate")[0]
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_section, (
            f"bucketed join still shuffles:\n{join_section}"
        )
        # and the result matches the unbucketed join
        expected = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert joined.collect()[0]["n"] == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_snapshot_diff_shuffles_hash_not_payload(spark):
    """The full-outer join input projects (key, md5) only — the wide text
    column must not cross the shuffle."""
    from rag_pipelines_spark.io import table
    from rag_pipelines_spark.operators.cdc import snapshot_diff

    d = table(spark, SF_DIR, "documents")
    diff = snapshot_diff(d, d.limit(400), "doc_id", ["text"])
    plan = diff._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    exchanges = re.findall(r"\(\d+\) Exchange\n[^(]*", plan)
    assert exchanges, "expected shuffle exchanges in full-outer join plan"
    for ex in exchanges:
        assert "text" not in ex
