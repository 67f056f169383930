"""§2.1/2.2/2.6/2.7 — scans, projections, filters, sorts/limits, set ops.

Every query here is a pure Catalyst plan: filters and projections push down
into the parquet scan (verify with .explain — PushedFilters/ReadSchema), so
at 100 TB only the referenced columns/row-groups are read.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rag_pipelines_spark.registry import register
from rag_pipelines_spark.queries._util import Part, register_checksum, t

# ---------------------------------------------------------------------------
# P1 — projection + rename + constants (the RAG-record transform)
# ref: fda_rag_extraction/scripts/combine_json_to_jsonl.py:79-94
# ---------------------------------------------------------------------------


@register(
    "q_scan_project",
    oracle="""
    SELECT doc_id AS rag_id,
           text   AS content,
           source AS source,
           lang   AS lang,
           '1.0'  AS version
    FROM documents
    """,
    doc="P1 projection+rename+constant. ref: fda…/combine_json_to_jsonl.py:79-94",
)
def q_scan_project(spark, sf_dir):
    return t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("rag_id"),
        F.col("text").alias("content"),
        "source",
        "lang",
        F.lit("1.0").alias("version"),
    )


# ---------------------------------------------------------------------------
# P3 — coalesce defaults
# ref: fda…/combine_json_to_jsonl.py:82,96-104 (content/date/version fallbacks)
# ---------------------------------------------------------------------------


@register(
    "q_coalesce_defaults",
    oracle="""
    SELECT doc_id,
           COALESCE(NULLIF(text, ''), 'doc-' || CAST(doc_id AS VARCHAR)) AS content,
           COALESCE(NULLIF(source, ''), 'unknown') AS source,
           '1.0' AS version
    FROM documents
    """,
    doc="P3 coalesce-with-defaults. ref: fda…/combine_json_to_jsonl.py:96-104",
)
def q_coalesce_defaults(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.coalesce(
            F.nullif(F.col("text"), F.lit("")),
            F.concat(F.lit("doc-"), F.col("doc_id").cast("string")),
        ).alias("content"),
        F.coalesce(F.nullif(F.col("source"), F.lit("")), F.lit("unknown")).alias(
            "source"
        ),
        F.lit("1.0").alias("version"),
    )


# ---------------------------------------------------------------------------
# P4 — null/invalid-key filter
# ref: json_split_and_clean.py:286-289 (skip no-RAG_ID);
#      fda_watcher.py:129-131 (skip rows without usable URL)
# ---------------------------------------------------------------------------


@register(
    "q_filter_nullkey",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id IS NOT NULL
      AND event_type IS NOT NULL
      AND event_type <> ''
      AND user_id IS NOT NULL
    """,
    doc="P4 null-key filter. ref: json_split_and_clean.py:286-289",
)
def q_filter_nullkey(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return e.filter(
        F.col("event_id").isNotNull()
        & F.col("event_type").isNotNull()
        & (F.col("event_type") != "")
        & F.col("user_id").isNotNull()
    ).select("event_id", "user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# P5 — length predicate (keep scraped text only if len > 50)
# ref: fda_watcher.py:223-227
# ---------------------------------------------------------------------------


@register(
    "q_filter_length",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE length(text) > 200
    """,
    doc="P5 length predicate. ref: fda_watcher.py:223-227",
)
def q_filter_length(spark, sf_dir):
    return (
        t(spark, sf_dir, "documents")
        .filter(F.length("text") > 200)
        .select("doc_id", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# P7 — wrapper-prefix strip (markdown='…')
# ref: fda…/combine_json_to_jsonl.py:107-114
# ---------------------------------------------------------------------------


@register(
    "q_prefix_strip",
    oracle="""
    WITH wrapped AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN 'markdown=''' || text || ''''
                    ELSE text END AS raw
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN raw LIKE 'markdown=''%'
                THEN CASE WHEN substring(raw, 11) LIKE '%'''
                          THEN substring(substring(raw, 11), 1, length(substring(raw, 11)) - 1)
                          ELSE substring(raw, 11) END
                ELSE raw END AS content
    FROM wrapped
    """,
    doc="P7 markdown=' wrapper strip. ref: fda…/combine_json_to_jsonl.py:107-114",
)
def q_prefix_strip(spark, sf_dir):
    from rag_pipelines_spark.functions.text import strip_wrapper_prefix

    d = t(spark, sf_dir, "documents")
    wrapped = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("markdown='"), F.col("text"), F.lit("'")),
        )
        .otherwise(F.col("text"))
        .alias("raw"),
    )
    return wrapped.select("doc_id", strip_wrapper_prefix("raw").alias("content"))


# ---------------------------------------------------------------------------
# O1 — deterministic sort + limit (sorted-file-order analog)
# ref: fda…/combine_json_to_jsonl.py:151
# ---------------------------------------------------------------------------


@register(
    "q_sort",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM documents
    ORDER BY n_chars DESC, doc_id
    LIMIT 25
    """,
    doc="O1 sort (+deterministic limit). ref: fda…/combine_json_to_jsonl.py:151",
)
def q_sort(spark, sf_dir):
    return (
        t(spark, sf_dir, "documents")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .select("doc_id", "source", "n_chars")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# O3 — top-k (orderBy + limit; TakeOrderedAndProject physical op — no full sort
# at scale)
# ref: pubmed_enrichment.py:136 (retmax 1); fda_watcher.py:622-626 (first 5)
# ---------------------------------------------------------------------------


@register(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="O3 top-k. ref: pubmed_enrichment.py:136; fda_watcher.py:622-626",
)
def q_topk(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# O2/U1 — new-first union (master update = concat([new, old]))
# ref: fda_watcher.py:549-553
# ---------------------------------------------------------------------------


@register(
    "q_union_order",
    oracle="""
    SELECT 'new' AS batch, doc_id, source FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT 'old' AS batch, doc_id, source FROM documents WHERE doc_id % 10 <> 0
    """,
    doc="O2 new-first union; order encoded as batch tag. ref: fda_watcher.py:549-553",
)
def q_union_order(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 10 == 0).select(
        F.lit("new").alias("batch"), "doc_id", "source"
    )
    old = d.filter(F.col("doc_id") % 10 != 0).select(
        F.lit("old").alias("batch"), "doc_id", "source"
    )
    return new.unionByName(old)


@register(
    "q_union_all",
    oracle="""
    SELECT doc_id, source FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, source FROM documents WHERE doc_id % 2 = 0
    """,
    doc="U1 UNION ALL (duplicates preserved). ref: fda_watcher.py:553",
)
def q_union_all(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    return d.filter(F.col("doc_id") % 3 == 0).unionByName(
        d.filter(F.col("doc_id") % 2 == 0)
    )


# ---------------------------------------------------------------------------
# U2 — difference (delta = scraped MINUS master)
# ref: fda_watcher.py:399-400
# ---------------------------------------------------------------------------


@register(
    "q_except",
    oracle="""
    SELECT doc_id, source FROM documents WHERE doc_id % 2 = 0
    EXCEPT ALL
    SELECT doc_id, source FROM documents WHERE doc_id % 4 = 0
    """,
    doc="U2 EXCEPT ALL. ref: fda_watcher.py:399-400",
)
def q_except(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    return d.filter(F.col("doc_id") % 2 == 0).exceptAll(
        d.filter(F.col("doc_id") % 4 == 0)
    )


@register(
    "q_intersect",
    oracle="""
    SELECT doc_id, source FROM documents WHERE doc_id % 2 = 0
    INTERSECT
    SELECT doc_id, source FROM documents WHERE doc_id % 3 = 0
    """,
    doc="set-op capability extension (not in reference): INTERSECT",
)
def q_intersect(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    return d.filter(F.col("doc_id") % 2 == 0).intersect(
        d.filter(F.col("doc_id") % 3 == 0)
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value
    FROM orders WHERE o_orderkey % 50 = 0
    UNION ALL
    SELECT o_orderkey, 'o_custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value
    FROM orders WHERE o_orderkey % 50 = 0
    """,
    doc="declared: unpivot/melt wide->long (Spark unpivot == stack)",
)
def q_unpivot(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    return o.select(
        "o_orderkey",
        F.col("o_totalprice"),
        F.col("o_custkey").cast("double").alias("o_custkey"),
    ).unpivot("o_orderkey", ["o_totalprice", "o_custkey"], "metric", "value")


register_checksum(
    "q_filter_nullkey",
    key="event_type",
    parts=["event_id", "user_id", Part("value", dec="18,2")],
    doc="bounded differential form of q_filter_nullkey for the sf10 "
    "scaling rung (SCALE.md): the kept row set (all 10M events survive "
    "the null filter at sf10) reduced to one row per event_type — count "
    "plus an order-insensitive XOR of md5 digests over the full kept "
    "tuple (value as DECIMAL(18,2) string, the fixture's value scale)",
)
