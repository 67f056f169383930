"""§2.3 — joins: delta anti-join (the reference's core operator), semi,
enrichment left-outer with fallbacks, fuzzy/theta verification, two-stage
fallback, plus declared inner/cross/range/as-of.

Scale notes: the anti/semi joins shuffle on the key — at 100 TB the master
(state) side is usually far smaller than the scrape side, so Catalyst/AQE
broadcasts it (the reference's in-memory `set(RAG_ID)` is exactly a
broadcast-hash build, fda_watcher.py:399). Fuzzy joins are *pre-blocked* on
a cheap equality key before any similarity computation — never a raw
cartesian.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rag_pipelines_spark.registry import register
from rag_pipelines_spark.queries._util import (
    Key,
    Part,
    dsum,
    o_dsum,
    register_checksum,
    t,
)

# ---------------------------------------------------------------------------
# J1 — delta anti-join: new records = scraped ∖ master (by key)
# ref: fda_watcher.py:397-403
# ---------------------------------------------------------------------------


@register(
    "q_delta_anti_join",
    oracle="""
    SELECT d.doc_id, d.source, d.lang
    FROM documents d
    WHERE NOT EXISTS (
        SELECT 1 FROM documents m
        WHERE m.doc_id % 7 <> 0 AND m.doc_id = d.doc_id
    )
    """,
    doc="J1 delta anti-join (master = seen keys). ref: fda_watcher.py:397-403",
)
def q_delta_anti_join(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    master = d.filter(F.col("doc_id") % 7 != 0).select("doc_id")
    # broadcast: master key-set is the small side at scale (state table)
    return d.join(F.broadcast(master), "doc_id", "left_anti").select(
        "doc_id", "source", "lang"
    )


# ---------------------------------------------------------------------------
# J2 — existence semi-join (checkpoint/resume skip)
# ref: pdf_marker_extraction.py:354-360; pubmed_enrichment.py:338-343
# ---------------------------------------------------------------------------


@register(
    "q_checkpoint_semi",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    )
    """,
    doc="J2 existence semi-join. ref: pdf_marker_extraction.py:354-360",
)
def q_checkpoint_semi(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    done = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return o.join(
        done, o.o_orderkey == done.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


register_checksum(
    "q_checkpoint_semi",
    key=Key("o_orderkey", shards=64),
    parts=["o_orderkey", Part("o_totalprice", dec="18,2")],
    doc="bounded differential form of q_checkpoint_semi for the sf10 "
    "scaling rung (SCALE.md): the semi-join survivor set (4.9M orders at "
    "sf10) reduced to 64 hash shards -- count plus an XOR of md5 digests "
    "over (orderkey, totalprice as DECIMAL(18,2) string)",
)


# ---------------------------------------------------------------------------
# J3 — enrichment left-outer join with coalesce fallbacks
# ref: pubmed_enrichment.py:394-448 (fallback EnrichedDocument at 438-448)
# ---------------------------------------------------------------------------


@register(
    "q_enrich_left_join",
    oracle="""
    WITH pubmed AS (
        SELECT doc_id AS pm_key,
               'Verified Title ' || CAST(doc_id AS VARCHAR) AS pm_title,
               '10.1000/ref.' || CAST(doc_id AS VARCHAR) AS pm_doi
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT d.doc_id,
           COALESCE(p.pm_title, 'Unknown Title') AS title,
           COALESCE('https://doi.org/' || p.pm_doi,
                    'https://pubmed.ncbi.nlm.nih.gov') AS link,
           CASE WHEN p.pm_key IS NULL THEN 'Unverified' ELSE 'Verified' END AS status
    FROM documents d
    LEFT JOIN pubmed p ON d.doc_id = p.pm_key
    """,
    doc="J3 enrichment left join + fallbacks. ref: pubmed_enrichment.py:394-448",
)
def q_enrich_left_join(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    pubmed = d.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("pm_key"),
        F.concat(F.lit("Verified Title "), F.col("doc_id").cast("string")).alias(
            "pm_title"
        ),
        F.concat(F.lit("10.1000/ref."), F.col("doc_id").cast("string")).alias("pm_doi"),
    )
    joined = d.join(F.broadcast(pubmed), d.doc_id == pubmed.pm_key, "left")
    return joined.select(
        d.doc_id,
        F.coalesce("pm_title", F.lit("Unknown Title")).alias("title"),
        F.coalesce(
            F.concat(F.lit("https://doi.org/"), F.col("pm_doi")),
            F.lit("https://pubmed.ncbi.nlm.nih.gov"),
        ).alias("link"),
        F.when(F.col("pm_key").isNull(), "Unverified")
        .otherwise("Verified")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# J4 — fuzzy/theta verification join (levenshtein variant; exact-DOI first)
# ref: pubmed_enrichment.py:270-296 (DOI equality 276-284, similarity 286-294)
# Pre-blocked on lang so the similarity predicate never sees a cartesian.
# ---------------------------------------------------------------------------


@register(
    "q_fuzzy_join",
    oracle="""
    WITH a AS (
        SELECT doc_id, lang, substring(text, 1, 40) AS frag FROM documents
        WHERE doc_id % 5 = 0
    ), b AS (
        SELECT doc_id, lang, substring(text, 1, 40) AS frag FROM documents
        WHERE doc_id % 5 = 1
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           1.0 - CAST(levenshtein(a.frag, b.frag) AS DOUBLE)
               / GREATEST(length(a.frag), length(b.frag)) AS sim
    FROM a JOIN b ON a.lang = b.lang
    WHERE 1.0 - CAST(levenshtein(a.frag, b.frag) AS DOUBLE)
              / GREATEST(length(a.frag), length(b.frag)) >= 0.30
    """,
    doc="J4 fuzzy join, lang-blocked, levenshtein sim. ref: pubmed_enrichment.py:270-296",
)
def q_fuzzy_join(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring("text", 1, 40).alias("frag")
    )
    a = d.filter(F.col("doc_id") % 5 == 0)
    b = (
        d.filter(F.col("doc_id") % 5 == 1)
        .withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("frag", "b_frag")
        .withColumnRenamed("lang", "b_lang")
    )
    sim = 1.0 - F.levenshtein("frag", "b_frag").cast("double") / F.greatest(
        F.length("frag"), F.length("b_frag")
    )
    return (
        a.join(b, a.lang == b.b_lang)  # equality block first (shuffle on lang)
        .where(sim >= 0.30)
        .select(F.col("doc_id").alias("a_id"), F.col("b_id"), sim.alias("sim"))
    )


# ---------------------------------------------------------------------------
# J5 — two-stage key-fallback join: exact key first, misses retry on 2nd key
# ref: pubmed_enrichment.py:394-420 (DOI lookup, then title lookup)
# ---------------------------------------------------------------------------


@register(
    "q_fallback_join",
    oracle="""
    WITH lut AS (
        SELECT doc_id AS k1, source AS k2,
               'hit-' || CAST(doc_id AS VARCHAR) AS payload
        FROM documents WHERE doc_id % 4 = 0
    ),
    stage1 AS (
        SELECT d.doc_id, l.payload
        FROM documents d JOIN lut l ON d.doc_id = l.k1
    ),
    misses AS (
        SELECT d.* FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM lut l WHERE l.k1 = d.doc_id)
    ),
    stage2 AS (
        SELECT m.doc_id, MIN(l.payload) AS payload
        FROM misses m JOIN lut l ON m.source = l.k2
        GROUP BY m.doc_id
    )
    SELECT doc_id, payload, 'doi' AS matched_by FROM stage1
    UNION ALL
    SELECT doc_id, payload, 'title' AS matched_by FROM stage2
    """,
    doc="J5 two-stage fallback join (min-payload for determinism). "
    "ref: pubmed_enrichment.py:394-420",
)
def q_fallback_join(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    lut = d.filter(F.col("doc_id") % 4 == 0).select(
        F.col("doc_id").alias("k1"),
        F.col("source").alias("k2"),
        F.concat(F.lit("hit-"), F.col("doc_id").cast("string")).alias("payload"),
    )
    stage1 = d.join(F.broadcast(lut), d.doc_id == lut.k1).select(
        "doc_id", "payload", F.lit("doi").alias("matched_by")
    )
    misses = d.join(F.broadcast(lut.select("k1")), d.doc_id == F.col("k1"), "left_anti")
    stage2 = (
        misses.join(F.broadcast(lut), misses.source == lut.k2)
        .groupBy("doc_id")
        .agg(F.min("payload").alias("payload"))
        .select("doc_id", "payload", F.lit("title").alias("matched_by"))
    )
    return stage1.unionByName(stage2)


# ---------------------------------------------------------------------------
# S13 — dead-letter split (single pass, route tag)
# ref: pubmed_enrichment.py:373,391,450-456
# ---------------------------------------------------------------------------


@register(
    "q_deadletter_split",
    oracle="""
    SELECT CASE WHEN length(text) > 150 AND lang IS NOT NULL
                THEN 'main' ELSE 'deadletter' END AS route,
           COUNT(*) AS n
    FROM documents
    GROUP BY 1
    """,
    doc="S13 dead-letter split. ref: pubmed_enrichment.py:450-456",
)
def q_deadletter_split(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    ok = (F.length("text") > 150) & F.col("lang").isNotNull()
    return (
        d.withColumn("route", F.when(ok, "main").otherwise("deadletter"))
        .groupBy("route")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Declared joins (not in reference; capability parity)
# ---------------------------------------------------------------------------


@register(
    "q_join_inner",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_items,
           {o_dsum('l.l_extendedprice')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="declared: 3-way inner join (lineitem⋈orders⋈customer)",
)
def q_join_inner(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_items"), dsum("l_extendedprice").alias("revenue"))
    )


@register(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
    doc="declared: cross join (region×nation, both tiny dims)",
)
def q_join_cross(spark, sf_dir):
    r = t(spark, sf_dir, "region").select("r_name")
    n = t(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@register(
    "q_join_range",
    oracle="""
    SELECT e1.event_id AS probe_id, COUNT(e2.event_id) AS n_following
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
    WHERE e1.event_type = 'error'
    GROUP BY e1.event_id
    """,
    doc="declared: range/interval join (events within 10min after an error), "
    "equi-blocked on user_id so the range predicate is a post-join filter",
)
def q_join_range(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    e1 = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("probe_id"),
        F.col("user_id").alias("u1"),
        F.col("ts").alias("t1"),
    )
    e2 = e.select(
        F.col("event_id").alias("follow_id"),
        F.col("user_id").alias("u2"),
        F.col("ts").alias("t2"),
    )
    cond = (
        (F.col("u1") == F.col("u2"))
        & (F.col("t2") > F.col("t1"))
        & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 10 MINUTES"))
    )
    return (
        e1.join(e2, cond)
        .groupBy("probe_id")
        .agg(F.count("follow_id").alias("n_following"))
    )


@register(
    "q_join_asof",
    oracle="""
    SELECT e.event_id,
           e.user_id,
           o.o_orderkey AS last_orderkey
    FROM events e
    ASOF LEFT JOIN (
        SELECT o_custkey,
               -- make the asof key unique per (custkey, date): keep max orderkey
               MAX_BY(o_orderkey, o_orderkey) AS o_orderkey,
               o_orderdate
        FROM orders
        GROUP BY o_custkey, o_orderdate
    ) o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    doc="declared: as-of join (latest order at or before event time per user). "
    "Spark impl: union-and-last-value window — scales as one shuffle on "
    "(key, time), no per-row lookup",
)
def q_join_asof(spark, sf_dir):
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    o = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    # Tag both sides, union on (key, time); last_value of the order key over
    # time order gives each event the most recent order at-or-before it.
    left = e.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("orderkey"),
    )
    right = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey").alias("orderkey"),
    )
    unioned = left.unionByName(right)
    # order: time, then orders before events at identical timestamps
    w = (
        W.partitionBy("k")
        .orderBy(F.col("t"), F.col("is_event"), F.col("orderkey"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    filled = unioned.withColumn(
        "last_orderkey", F.last("orderkey", ignorenulls=True).over(w)
    )
    return filled.filter(F.col("is_event") == 1).select(
        "event_id", F.col("k").alias("user_id"), "last_orderkey"
    )


@register(
    "q_join_full",
    oracle="""
    WITH big_cust AS (
        SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0
    ),
    order_counts AS (
        SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        WHERE o_custkey % 2 = 0 GROUP BY o_custkey
    )
    SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
           COALESCE(c.c_name, '<no-customer>') AS name,
           COALESCE(o.n_orders, 0) AS n_orders
    FROM big_cust c FULL OUTER JOIN order_counts o
      ON c.c_custkey = o.o_custkey
    """,
    doc="declared: full-outer equi-join with both-sides-missing handling "
    "(subset sides so each side has unmatched rows)",
)
def q_join_full(spark, sf_dir):
    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", "c_name")
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 2 == 0)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    j = c.join(o, c.c_custkey == o.o_custkey, "full")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.coalesce("c_name", F.lit("<no-customer>")).alias("name"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


@register(
    "q_join_right",
    oracle="""
    WITH order_counts AS (
        SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        WHERE o_custkey % 2 = 0 GROUP BY o_custkey
    )
    SELECT c.c_custkey AS custkey,
           c.c_mktsegment AS segment,
           COALESCE(o.n_orders, 0) AS n_orders
    FROM order_counts o RIGHT JOIN customer c
      ON o.o_custkey = c.c_custkey
    """,
    doc="declared: right-outer equi-join (SURVEY §2.3 'inner/right/full'; "
    "ref join usage in fda_rag_extraction merge steps). The aggregated "
    "left side leaves odd custkeys unmatched so right-preservation is "
    "actually exercised.",
)
def q_join_right(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 2 == 0)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    j = o.join(c, o.o_custkey == c.c_custkey, "right")
    return j.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


@register(
    "q_snapshot_diff",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 AND doc_id % 5 != 0 THEN 'added'
                WHEN doc_id % 5 = 0 AND doc_id % 7 != 0 THEN 'removed'
                ELSE 'updated' END AS change
    FROM documents
    WHERE (doc_id % 7 = 0 AND doc_id % 5 != 0)
       OR (doc_id % 5 = 0 AND doc_id % 7 != 0)
       OR (doc_id % 7 != 0 AND doc_id % 5 != 0 AND doc_id % 3 = 0)
    """,
    doc="CDC snapshot diff (added/removed/updated) — generalizes J1's "
    "one-sided delta (ref: fda_watcher.py:397-416) to the full change "
    "triple via a narrow (key, payload-hash) full-outer join; the oracle "
    "derives the expected change set independently from doc_id residues "
    "(operators/cdc.py)",
)
def q_snapshot_diff(spark, sf_dir):
    from rag_pipelines_spark.operators.cdc import snapshot_diff

    d = t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 0)
    new = d.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, "doc_id", ["text"])


register_checksum(
    "q_join_asof",
    key="user_id",
    parts=["event_id", Part("last_orderkey", null="NONE")],
    doc="bounded differential form of q_join_asof for the sf10 scaling "
    "rung (SCALE.md): the 10M-row as-of result reduced to one row per "
    "user — count plus an XOR of md5 digests over (event_id, matched "
    "order key), NULL misses coalesced to a sentinel. Wraps the original "
    "query fn and oracle verbatim, so twin and original can never "
    "diverge in dataflow",
)


@register(
    "q_fuzzy_join_small",
    oracle="""
    WITH a AS (
        SELECT doc_id, lang, substring(text, 1, 40) AS frag FROM documents
        WHERE doc_id % 5 = 0
    ), b AS (
        SELECT doc_id, lang, substring(text, 1, 40) AS frag FROM documents
        WHERE doc_id % 500 = 1
    ),
    p AS (
        SELECT a.doc_id AS a_id,
               1.0 - CAST(levenshtein(a.frag, b.frag) AS DOUBLE)
                   / GREATEST(length(a.frag), length(b.frag)) AS sim
        FROM a JOIN b ON a.lang = b.lang
        WHERE 1.0 - CAST(levenshtein(a.frag, b.frag) AS DOUBLE)
                  / GREATEST(length(a.frag), length(b.frag)) >= 0.30
    )
    SELECT a_id, CAST(COUNT(*) AS BIGINT) AS n_matches, MAX(sim) AS best_sim
    FROM p GROUP BY a_id
    """,
    doc="q_fuzzy_join with a ~0.2%% right side (%500 slice) and a "
    "per-left-doc aggregated verdict: the sf10-certifiable variant. The "
    "LEFT side stays the full %5 slice (100k docs at sf10) — only the "
    "probe side shrinks, so the lang-blocked levenshtein join runs at "
    "real sf10 row counts on the blocked side (~10M verified pairs "
    "instead of the full variant's ~1e9, which is the sweep's "
    "documented quadratic ceiling). Aggregation (n_matches, best_sim "
    "per left doc) keeps the result left-sized even at the permissive "
    "0.30 floor, where raw pair output would itself be data-sized",
)
def q_fuzzy_join_small(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring("text", 1, 40).alias("frag")
    )
    a = d.filter(F.col("doc_id") % 5 == 0)
    b = (
        d.filter(F.col("doc_id") % 500 == 1)
        .withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("frag", "b_frag")
        .withColumnRenamed("lang", "b_lang")
    )
    sim = 1.0 - F.levenshtein("frag", "b_frag").cast("double") / F.greatest(
        F.length("frag"), F.length("b_frag")
    )
    pairs = (
        a.join(b, a.lang == b.b_lang)
        .where(sim >= 0.30)
        .select(F.col("doc_id").alias("a_id"), sim.alias("sim"))
    )
    return pairs.groupBy("a_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.max("sim").alias("best_sim"),
    )
