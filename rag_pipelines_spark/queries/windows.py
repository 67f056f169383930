"""§2.5 — window functions (declared capability; the reference's only
window-like computations are its batch partitioner and the F3 lookahead).

Deterministic ordering: every window orders by a unique key suffix so the
hash comparison is stable. Frame sums go through exact decimals.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from rag_pipelines_spark.registry import register
from rag_pipelines_spark.queries._util import (
    Part,
    dec,
    md5_long_digest,
    o_dsum,
    register_checksum,
    t,
)


@register(
    "q_window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn,
           RANK() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
           DENSE_RANK() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS drnk
    FROM orders
    """,
    doc="declared: row_number/rank/dense_rank per customer",
)
def q_window_rank(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "q_window_lead",
    oracle="""
    SELECT event_id, user_id,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
    FROM events
    """,
    doc="declared: lag/lead per user over event time "
    "(the F3 lookahead is this shape — see queries/text.q_cutoff_sql)",
)
def q_window_lead(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "q_window_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum3
    FROM events
    """,
    doc="declared: sliding rows-frame aggregate (3-row sum, exact decimal)",
)
def q_window_frame(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return e.select(
        "event_id",
        "user_id",
        F.sum(dec("value")).over(w).cast("double").alias("sum3"),
    )


@register(
    "q_window_running",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_value
    FROM events
    """,
    doc="declared: running sum per user (exact decimal)",
)
def q_window_running(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(dec("value")).over(w).cast("double").alias("running_value"),
    )


@register(
    "q_batch_assign",
    oracle="""
    SELECT doc_id,
           CAST((ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 10 AS BIGINT)
               AS batch_no
    FROM documents
    """,
    doc="the reference's batch partitioner: record index -> 10-row batch "
    "number (floor(row_number/N)). ref: fda_watcher.py:444-455. Scale-safe "
    "formulation (operators/indexing.py): block-range key -> per-block "
    "counts -> broadcast cumulative offsets -> block-local row_number; the "
    "only global window runs over the tiny one-row-per-block frame, never "
    "the data",
)
def q_batch_assign(spark, sf_dir):
    from rag_pipelines_spark.operators.indexing import global_row_index

    o = t(spark, sf_dir, "documents").select("doc_id")
    return global_row_index(o, "doc_id", block_size=1024, out_col="_idx").select(
        "doc_id", F.expr("_idx div 10").alias("batch_no")
    )


@register(
    "q_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
           CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END AS completed
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
    doc="sequential funnel (signup -> first click after -> first purchase "
    "after that) per user: the decorrelated step-after-step min pattern — "
    "each stage re-scans events with its own pushed-down event_type "
    "filter (cheap: pruned parquet scan) and aggregates on user_id; at "
    "scale the stage joins are co-partitioned sort-merge on user_id, "
    "locally AQE broadcasts the small agg sides",
)
def q_funnel(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    s1 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t1",
            "t2",
            "t3",
            F.when(F.col("t3").isNotNull(), 1).otherwise(0).alias("completed"),
        )
    )


@register(
    "q_gap_fill",
    oracle=f"""
    WITH per_hour AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket,
               {o_dsum('value')} AS v,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    span AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS t0,
               date_trunc('hour', MAX(ts)) AS t1
        FROM events GROUP BY user_id
    ),
    buckets AS (
        SELECT user_id,
               unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS bucket
        FROM span
    )
    SELECT b.user_id, b.bucket,
           COALESCE(p.n_events, 0) AS n_events,
           LAST_VALUE(p.v IGNORE NULLS) OVER (
               PARTITION BY b.user_id ORDER BY b.bucket
               ROWS UNBOUNDED PRECEDING) AS v_filled
    FROM buckets b LEFT JOIN per_hour p USING (user_id, bucket)
    """,
    doc="time-series gap fill + forward fill: per-entity hourly buckets "
    "generated over each user's own span (sequence of timestamps — no "
    "calendar table scan), left-joined to actuals, missing hours carry "
    "the last observed value (last ignoreNulls window). Bucket counts "
    "are bounded by span/granularity, so the explode is O(entity-hours), "
    "and the fill window partitions on the entity key",
)
def q_gap_fill(spark, sf_dir):
    from rag_pipelines_spark.queries._util import dsum

    e = t(spark, sf_dir, "events")
    per_hour = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(dsum("value").alias("v"), F.count("*").alias("n_events"))
    span = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    buckets = span.select(
        "user_id",
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))).alias("bucket"),
    )
    w = W.partitionBy("user_id").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        buckets.join(per_hour, ["user_id", "bucket"], "left")
        .select(
            "user_id",
            "bucket",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        )
    )


@register(
    "q_gap_fill_checksum",
    oracle="""
    WITH per_hour AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket,
               SUM(CAST(value AS DECIMAL(18,2))) AS v,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    span AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS t0,
               date_trunc('hour', MAX(ts)) AS t1
        FROM events GROUP BY user_id
    ),
    buckets AS (
        SELECT user_id,
               unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS bucket
        FROM span
    ),
    filled AS (
        SELECT b.user_id, b.bucket,
               p.n_events,
               LAST_VALUE(p.v IGNORE NULLS) OVER (
                   PARTITION BY b.user_id ORDER BY b.bucket
                   ROWS UNBOUNDED PRECEDING) AS vf
        FROM buckets b LEFT JOIN per_hour p USING (user_id, bucket)
    )
    SELECT user_id,
           COUNT(*) AS n_buckets,
           CAST(COUNT(*) - COUNT(n_events) AS BIGINT) AS n_filled,
           (CAST(FLOOR(SUM(vf * (EXTRACT(hour FROM bucket) + 1))) AS DOUBLE)
            + CAST(SUM(vf * (EXTRACT(hour FROM bucket) + 1))
                   - FLOOR(SUM(vf * (EXTRACT(hour FROM bucket) + 1)))
                   AS DOUBLE)) AS checksum
    FROM filled
    GROUP BY user_id
    """,
    doc="bounded differential form of q_gap_fill for the sf10 scaling rung "
    "(SCALE.md): the same gap-fill + forward-fill dataflow reduced to one "
    "row per user — bucket count, filled-bucket count, and a "
    "position-weighted checksum of the filled series (forward fill stays "
    "in the exact-decimal domain, x (hour+1) weight, decimal sum, split "
    "double conversion) — so the ~100M-row sf10 result is verified "
    "engine-side without materializing it in the compare harness",
)
def q_gap_fill_checksum(spark, sf_dir):
    from rag_pipelines_spark.queries._util import dec, dec_to_dbl

    e = t(spark, sf_dir, "events")
    per_hour = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.sum(dec("value")).alias("v"), F.count("*").alias("n_events"))
    span = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    buckets = span.select(
        "user_id",
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))).alias("bucket"),
    )
    w = W.partitionBy("user_id").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, 0
    )
    filled = buckets.join(per_hour, ["user_id", "bucket"], "left").select(
        "user_id",
        "bucket",
        "n_events",
        F.last("v", ignorenulls=True).over(w).alias("vf"),
    )
    # decimal x small-int weight is exact, decimal sum is order-independent,
    # and the final split conversion is the repo's bit-reproducible
    # decimal->double (see _util.dec_to_dbl)
    weighted = F.col("vf") * (F.hour("bucket") + F.lit(1))
    return filled.groupBy("user_id").agg(
        F.count("*").alias("n_buckets"),
        (F.count("*") - F.count("n_events")).alias("n_filled"),
        dec_to_dbl(F.sum(weighted)).alias("checksum"),
    )


@register(
    "q_window_dist",
    oracle="""
    SELECT o_orderkey,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    doc="distribution window functions (ntile quartiles, percent_rank, "
    "cume_dist) per priority class — deterministic under the unique "
    "(totalprice, orderkey) order; the ratios are exact rank arithmetic, "
    "so both engines produce identical doubles",
)
def q_window_dist(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@register(
    "q_window_dist_checksum",
    oracle="""
    WITH d AS (
        SELECT o_orderpriority, o_orderkey,
               NTILE(4) OVER w AS quartile,
               PERCENT_RANK() OVER w AS pr,
               CUME_DIST() OVER w AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
    ),
    s AS (
        SELECT o_orderpriority,
               COUNT(*) AS n,
               bit_xor(CAST(concat('0x', substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   CAST(quartile AS VARCHAR)), 1, 15)) AS BIGINT)) AS xor_sig,
               SUM(CAST(pr AS DECIMAL(38,15))) AS prs,
               SUM(CAST(cd AS DECIMAL(38,15))) AS cds
        FROM d GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n, xor_sig,
           CAST(FLOOR(prs) AS DOUBLE)
               + CAST(prs - FLOOR(prs) AS DOUBLE) AS pr_sum,
           CAST(FLOOR(cds) AS DOUBLE)
               + CAST(cds - FLOOR(cds) AS DOUBLE) AS cd_sum
    FROM s
    """,
    doc="bounded differential form of q_window_dist for the sf10 scaling "
    "rung (SCALE.md): the per-order distribution frame reduced to one "
    "row per priority class — row count, an XOR of (orderkey, quartile) "
    "md5 digests, and exact decimal sums of percent_rank/cume_dist "
    "surfaced through the floor+fraction double split (queries/_util.py "
    "rationale: identical doubles in both engines without a cross-engine "
    "float-sum ordering hazard)",
)
def q_window_dist_checksum(spark, sf_dir):
    from rag_pipelines_spark.queries._util import dec_to_dbl

    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    d = o.select(
        "o_orderpriority",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    digest = md5_long_digest(
        F.col("o_orderkey").cast("string"), F.col("quartile").cast("string")
    )
    agg = d.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.bit_xor(digest).alias("xor_sig"),
        F.sum(F.col("pr").cast("decimal(38,15)")).alias("prs"),
        F.sum(F.col("cd").cast("decimal(38,15)")).alias("cds"),
    )
    return agg.select(
        "o_orderpriority",
        "n",
        "xor_sig",
        dec_to_dbl(F.col("prs")).alias("pr_sum"),
        dec_to_dbl(F.col("cds")).alias("cd_sum"),
    )


register_checksum(
    "q_window_rank",
    key="o_custkey",
    parts=["o_orderkey", "rn", "rnk", "drnk"],
    doc="bounded differential form of q_window_rank for the sf10 scaling "
    "rung (SCALE.md): the 15M-row per-order rank frame reduced to one row "
    "per customer — count plus an XOR of md5 digests over the full "
    "(orderkey, rn, rnk, drnk) tuple; any rank off by one flips the "
    "signature",
)


register_checksum(
    "q_window_lead",
    key="user_id",
    parts=[
        "event_id",
        Part("prev_type", null="NONE"),
        Part("next_type", null="NONE"),
    ],
    doc="bounded differential form of q_window_lead for the sf10 scaling "
    "rung (SCALE.md): one row per user — count plus an XOR of md5 "
    "digests over (event_id, prev, next); boundary NULLs COALESCEd to a "
    "sentinel before digesting (concat_ws silently skips nulls in Spark "
    "while || nulls out in DuckDB)",
)


register_checksum(
    "q_window_frame",
    key="user_id",
    parts=["event_id", Part("sum3", dec="20,2")],
    doc="bounded differential form of q_window_frame for the sf10 scaling "
    "rung (SCALE.md): one row per user — count plus an XOR of md5 digests "
    "over (event_id, sum3). sum3 enters the digest re-cast to "
    "DECIMAL(20,2): the frame sum is an exact 2-decimal value carried in "
    "identical doubles by both engines (q_window_frame's own hash check "
    "pins that), and the decimal round-trip renders it identically — "
    "digesting raw double strings would hang on each engine's float "
    "formatter instead",
)


register_checksum(
    "q_window_running",
    key="user_id",
    parts=["event_id", Part("running_value", dec="24,2")],
    doc="bounded differential form of q_window_running for the sf10 "
    "scaling rung (SCALE.md): one row per user — count plus an XOR of "
    "md5 digests over (event_id, running_value), the running sum "
    "re-cast to DECIMAL(24,2) for engine-identical rendering "
    "(q_window_frame_checksum rationale; wider precision because the "
    "running sum grows with history)",
)
