"""Empty/degenerate-input robustness: operators must return empty (not
throw) on empty frames, and handle single-token / empty-string documents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from rag_pipelines_spark.session import get_spark

    return get_spark("edge-tests", shuffle_partitions=4)


def test_cutoff_truncate_empty_and_blank(spark):
    from rag_pipelines_spark.operators.cleaning import cutoff_truncate

    df = spark.createDataFrame(
        [(1, ""), (2, "\n\n\n"), (3, "only line")], ["doc_id", "raw"]
    )
    out = {r["doc_id"]: r["cleaned"] for r in cutoff_truncate(df, "doc_id", "raw").collect()}
    # all-blank docs vanish (no kept lines); content docs survive
    assert out.get(3) == "only line"
    assert 1 not in out and 2 not in out

    empty = spark.createDataFrame([], "doc_id long, raw string")
    assert cutoff_truncate(empty, "doc_id", "raw").count() == 0


def test_exact_dedup_empty(spark):
    from rag_pipelines_spark.operators.dedup import exact_dedup

    empty = spark.createDataFrame([], "key string, ord long, v string")
    assert exact_dedup(empty, ["key"], "ord").count() == 0


def test_simhash_single_token_and_empty_text(spark):
    from rag_pipelines_spark.operators.dedup import simhash64_df

    df = spark.createDataFrame([(1, "word"), (2, "")], ["doc_id", "text"])
    rows = {r["doc_id"]: r["simhash"] for r in simhash64_df(df, "doc_id", "text").collect()}
    assert isinstance(rows[1], int)
    # empty text still yields a row, pinned to simhash 0 (no tokens, no votes)
    assert rows[2] == 0


def test_fetch_enrich_empty_urls(spark):
    from rag_pipelines_spark.sources.html_table import fetch_enrich

    df = spark.createDataFrame([("", ), (None, )], ["url"])
    rows = fetch_enrich(df, url_col="url").collect()
    assert [r["text"] for r in rows] == ["", ""]


def test_parse_html_tables_garbage_input(spark):
    from rag_pipelines_spark.sources.html_table import parse_html_tables

    pages = spark.createDataFrame(
        [
            ("u1", "<not <valid html </"),
            ("u2", ""),
            ("u3", None),
            ("u4", "<table><tr><td>a</td><td>b</td><td>c</td></tr></table>"),
        ],
        ["url", "html"],
    )
    rows = parse_html_tables(pages).collect()
    assert len(rows) == 1 and rows[0]["page_url"] == "u4"


def test_format_authors_null_array(spark):
    from rag_pipelines_spark.functions.text import format_authors

    df = spark.createDataFrame(
        [(1,)], ["i"]
    ).select(format_authors(F.lit(None).cast("array<string>")).alias("fmt"))
    assert df.collect()[0]["fmt"] == "Unknown"


def test_chunking_text_shorter_than_chunk(spark):
    from rag_pipelines_spark.operators.textstats import char_chunks

    df = spark.createDataFrame([(1, "tiny")], ["id", "text"])
    rows = char_chunks(df, "id", "text", size=100, stride=80).collect()
    assert len(rows) == 1 and rows[0]["chunk"] == "tiny"


def test_split_on_expectations_routes_and_reasons(spark):
    """Dead-letter routing: failures carry the violated-rule names; the
    two outputs partition the input exactly."""
    from pyspark.sql import functions as F

    from rag_pipelines_spark.operators.expectations import split_on_expectations

    df = spark.createDataFrame(
        [(1, "ok", "en"), (2, "", "en"), (3, "ok", "xx"), (4, None, "yy")],
        "id int, text string, lang string",
    )
    good, bad = split_on_expectations(
        df,
        {
            "nonempty_text": F.length("text") > 0,
            "known_lang": F.col("lang").isin("en", "de"),
        },
    )
    assert [r["id"] for r in good.collect()] == [1]
    reasons = {r["id"]: sorted(r["reasons"]) for r in bad.collect()}
    assert reasons == {
        2: ["nonempty_text"],
        3: ["known_lang"],
        4: ["known_lang", "nonempty_text"],
    }
