"""DSIR-style importance weighting for training-data selection.

Data Selection with Importance Resampling (Xie et al. 2023, "Data
Selection for Language Models via Importance Resampling"): score every
raw-corpus document by how much more likely its hashed n-gram features
are under a TARGET distribution (a small high-quality / in-domain set)
than under the RAW distribution, then keep the top of the ranking (the
paper resamples with Gumbel noise; the deterministic top-k is the
oracle-checkable tier and what production pipelines mostly run).

    logw(doc) = sum over the doc's feature occurrences of
                ln p_target(bucket) - ln p_raw(bucket)

with hashed word unigram+bigram features bucketed to `n_buckets` and
add-`smoothing` estimates on both sides.

Beyond the reference surface (§2.11 north-star tier — the quality /
mixture family: quality_model scores words against fixed weights, DSIR
scores them against a target CORPUS).

Spark-first / 100 TB posture:
  * Feature extraction is a per-row explode (textstats.word_ngrams for
    unigrams and bigrams) — no corpus shuffle.
  * Both distributions are bucket-count hash-aggs with map-side
    combine: the shuffle is n_buckets rows per side, never the corpus.
  * The per-bucket log-ratio table is n_buckets rows -> broadcast; the
    per-doc score is one partial-aggregated groupBy(doc_id).
  * The target set is assumed small (it is: hand-curated or in-domain
    data); its counts come from the same bucket agg.

Cross-engine determinism: all counts are exact integers; each bucket's
log-ratio is computed once from those integers and ROUNDED to 6
decimals (well past any libm ulp divergence between the JVM and
DuckDB), and per-doc sums fold the rounded values through an exact
decimal — order-independent, so Spark and DuckDB produce identical
doubles. Same scheme as queries/_util.dsum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.textstats import word_ngrams
from rag_pipelines_spark.queries._util import dec_to_dbl

__all__ = [
    "hashed_ngram_features",
    "dsir_logweights",
    "dsir_score_against",
    "dsir_gumbel_topk",
]


def _bucket(gram_col, n_buckets: int):
    """Engine-portable stable bucket: first 15 md5 nibbles mod n_buckets
    (DuckDB mirror: CAST(concat('0x', substr(md5(g),1,15)) AS BIGINT) %
    n_buckets; both operands non-negative so % == pmod)."""
    return F.pmod(
        F.conv(F.substring(F.md5(gram_col), 1, 15), 16, 10).cast("long"),
        F.lit(n_buckets),
    )


def hashed_ngram_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 10_000,
) -> DataFrame:
    """(id, bucket) rows — one per word unigram AND bigram occurrence
    (with multiplicity: DSIR features are a bag, not a set).

    Tokens are lowercased whitespace splits; both n-gram orders come
    from textstats.word_ngrams. A doc with n tokens emits n unigrams +
    max(n-1, 0) bigrams.
    """
    ws = F.split(F.lower(F.col(text_col)), r"\s+")
    uni, bi = (word_ngrams(df, ws, k, id_col) for k in (1, 2))
    return uni.unionByName(bi).select(
        id_col, _bucket(F.col("gram"), n_buckets).alias("bucket")
    )


def dsir_logweights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 10_000,
    smoothing: int = 1,
) -> DataFrame:
    """(id, n_feats, logw) for every corpus doc with >= 1 feature.

    logw = sum over feature occurrences of
           round(ln p_t(b) - ln p_r(b), 6), decimal-folded;
    p_x(b) = (count_x(b) + smoothing) / (total_x + smoothing*n_buckets).

    Higher logw = more target-like. Selection is a deterministic
    ORDER BY (logw DESC, id) LIMIT k on the output (rank-stable under
    any partitioning); the paper's Gumbel-perturbed resampling drops in
    by adding noise seeded from md5(id) before the sort.
    """
    # Deliberately NOT materialized (r10 measured negative result): the
    # corpus feature frame feeds two consumers (the raw bucket-count agg
    # and the scoring join), so the positions-explode + per-feature md5
    # runs twice. A localCheckpoint of cf — the batch-3 "shingles once"
    # move — was tried and measured SLOWER at sf1 (isolated min-of-3:
    # 4.77 s -> 5.95 s): the feature frame is |occurrences|-sized
    # (~2 rows per token), so writing + re-reading it costs more than
    # re-running the cheap JVM explode+md5 over the column-pruned text
    # scan. Unlike the shingle frames (Arrow-UDF-produced, expensive to
    # recompute), this recompute is pure codegen — the same
    # recompute-vs-materialize call the pretraining pipeline documents.
    cf = hashed_ngram_features(corpus, id_col, text_col, n_buckets)
    tf = hashed_ngram_features(target, id_col, text_col, n_buckets)

    raw_counts = cf.groupBy("bucket").agg(F.count("*").alias("cr"))
    tgt_counts = tf.groupBy("bucket").agg(F.count("*").alias("ct"))
    return dsir_score_against(
        cf, raw_counts, tgt_counts, id_col, n_buckets, smoothing
    )


def dsir_score_against(
    batch_feats: DataFrame,
    raw_counts: DataFrame,
    tgt_counts: DataFrame,
    id_col: str,
    n_buckets: int = 10_000,
    smoothing: int = 1,
) -> DataFrame:
    """Score a batch of (id, bucket) feature rows against EXPLICIT
    raw/target bucket-count distributions — the serve half of DSIR,
    split out so the raw side can come from accreted rollup STATE
    (q_dsir_from_state: history persists only as the n_buckets-row
    count table, never as text) and the target side from a frozen
    curated-set distribution.

    raw_counts: (bucket, cr); tgt_counts: (bucket, ct). Same smoothing
    / rounding / decimal-fold contract as dsir_logweights — with equal
    inputs the two paths are bitwise-identical.

    Buckets the batch references but NEITHER distribution has seen
    (possible when scoring an incoming batch against prior state; never
    when raw_counts covers the batch, as in dsir_logweights) score the
    smoothed default round(ln(s/(tt+k)) - ln(s/(rt+k)), 6) — the lr
    table's own value for a (0, 0) bucket.
    """
    # smoothing makes every bucket's ratio defined; buckets absent from
    # BOTH sides can't be referenced by any doc, so the outer join over
    # observed buckets is complete for scoring
    counts = raw_counts.join(tgt_counts, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("cr", F.lit(0)).alias("cr"),
        F.coalesce("ct", F.lit(0)).alias("ct"),
    )
    # totals as a broadcast 1-row agg crossJoined back (the
    # operators/sampling.py balance_groups pattern) — no unpartitioned
    # window anywhere in the plan, so wrapper queries need no lint
    # exemption. The counts subtree appears in both crossJoin branches,
    # but its bucket-groupBy exchanges are identical on both sides and
    # ReuseExchange dedupes them, so the corpus feature pass still runs
    # once per side.
    k = n_buckets * smoothing
    totals = F.broadcast(
        counts.agg(F.sum("cr").alias("_rt"), F.sum("ct").alias("_tt"))
    )  # 1 row
    lr = counts.crossJoin(totals).select(
        "bucket",
        F.round(
            F.log(
                (F.col("ct") + smoothing)
                / (F.col("_tt") + F.lit(k)).cast("double")
            )
            - F.log(
                (F.col("cr") + smoothing)
                / (F.col("_rt") + F.lit(k)).cast("double")
            ),
            6,
        ).alias("lr"),
    )
    # default for never-seen buckets: the lr formula at (cr, ct) = (0, 0)
    lr0 = totals.select(
        F.round(
            F.log(
                F.lit(float(smoothing))
                / (F.col("_tt") + F.lit(k)).cast("double")
            )
            - F.log(
                F.lit(float(smoothing))
                / (F.col("_rt") + F.lit(k)).cast("double")
            ),
            6,
        ).alias("_lr0")
    )
    scored = (
        batch_feats.join(F.broadcast(lr), "bucket", "left")
        .crossJoin(F.broadcast(lr0))
        .select(id_col, F.coalesce("lr", "_lr0").alias("lr"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_feats"),
        dec_to_dbl(F.sum(F.col("lr").cast("decimal(28,6)"))).alias("logw"),
    )


# 2^60 + 2: md5_long_digest yields h in [0, 2^60), so (h+1)/(2^60+2)
# lies strictly inside (0,1) — both Gumbel logs are finite.
_GUMBEL_DENOM = float((1 << 60) + 2)


def dsir_gumbel_topk(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 100,
    n_buckets: int = 10_000,
    smoothing: int = 1,
    salt: str = "gumbel",
) -> DataFrame:
    """DSIR's actual selection step: sample k docs WITHOUT replacement
    with probability proportional to exp(logw), via the Gumbel-top-k
    trick — rank by logw + Gumbel(0,1) noise and keep the top k (Xie et
    al. 2023 resample; Kool et al. 2019 for Gumbel-top-k = sampling
    without replacement).

    The noise is seeded from content (md5 of the id + salt), not an
    RNG: u = (md5_60bit(id|salt) + 1) / (2^60 + 2), g = -ln(-ln(u)),
    rounded to 6 decimals before the addition — so both engines, and
    any re-run at any partitioning, draw the identical "sample". Change
    `salt` to redraw. Output: (id, n_feats, logw, sample_rank), the k
    selected docs — bounded, so sf-sweeps need no checksum twin.

    Scale: everything dsir_logweights does plus one md5 per doc and a
    top-k. The rank is a single ORDER BY ... LIMIT k over the doc-level
    score frame — Spark executes it as TakeOrderedAndProject (per-
    partition heaps + driver merge of k rows), never a global sort.
    """
    from rag_pipelines_spark.queries._util import md5_long_digest

    scored = dsir_logweights(
        corpus, target, id_col, text_col, n_buckets, smoothing
    )
    u = (md5_long_digest(F.col(id_col).cast("string"), F.lit(salt)) + 1) / F.lit(
        _GUMBEL_DENOM
    )
    g6 = F.round(-F.log(-F.log(u)), 6)
    keyed = scored.withColumn("_key", F.col("logw") + g6)
    top = keyed.orderBy(F.desc("_key"), F.asc(id_col)).limit(k)
    # rank assignment over the k-row survivor frame (tiny by contract)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("_key"), F.asc(id_col))
    return top.withColumn("sample_rank", F.row_number().over(w)).select(
        id_col, "n_feats", "logw", "sample_rank"
    )
