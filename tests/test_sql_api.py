"""SQL-API surface: the same Catalyst plans are reachable through
spark.sql over registered views (SURVEY §1.4 — DataFrame and SQL are two
frontends to one engine). Spot-check DataFrame-vs-SQL equivalence."""

from __future__ import annotations

import pytest

from rag_pipelines_spark.io import TABLES, table

from tests.conftest import SF_DIR as SF


@pytest.fixture(scope="module")
def spark():
    from rag_pipelines_spark.session import get_spark

    s = get_spark("sql-api-tests", shuffle_partitions=8)
    for name in TABLES:
        table(s, SF, name).createOrReplaceTempView(name)
    return s


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_sql_equals_dataframe_group_count(spark):
    from rag_pipelines_spark.registry import load_all

    reg = load_all()
    df_api = reg["q_group_count"].fn(spark, SF)
    sql_api = spark.sql("SELECT source, COUNT(*) AS n FROM documents GROUP BY source")
    assert _rows(df_api) == _rows(sql_api)


def test_sql_equals_dataframe_anti_join(spark):
    from rag_pipelines_spark.registry import load_all

    reg = load_all()
    df_api = reg["q_delta_anti_join"].fn(spark, SF)
    sql_api = spark.sql(
        """
        SELECT d.doc_id, d.source, d.lang FROM documents d
        ANTI JOIN (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) m
        USING (doc_id)
        """
    )
    assert _rows(df_api) == _rows(sql_api)


def test_sql_window_over_view(spark):
    got = spark.sql(
        """
        SELECT o_custkey, MAX(rn) AS n_orders FROM (
            SELECT o_custkey,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
            FROM orders
        ) GROUP BY o_custkey
        """
    )
    direct = spark.sql("SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey")
    assert _rows(got) == _rows(direct)
