"""Exact set-similarity join via prefix filtering (PPJoin-style).

MinHash banding (operators/dedup.py) finds near-dup candidates
*probabilistically*; this operator answers the exact question — ALL pairs
with token-set Jaccard >= t — without an all-pairs product, using the
prefix-filtering lemma (Chaudhuri et al., ICDE'06; Xiao et al., WWW'08):

  order every set by one global token order; if J(a, b) >= t, then the
  first  p_s = |s| - ceil(t*|s|) + 1  tokens of a and b (their "prefixes")
  must share at least one token.

So candidates come from an equi-join on prefix tokens only. Ordering by
ascending global document frequency puts the RAREST tokens in the prefix,
which is what bounds the candidate count: a token shared by f docs
contributes at most f^2 candidate pairs, and prefix tokens have small f.

Exactness hinges on the ceiling: a float ceil(t*|s|) can round the wrong
way (0.6*5 = 3.0000000000000004 -> ceil 4 -> a too-short prefix -> MISSED
pairs). The threshold is therefore an integer fraction num/den and the
prefix length uses exact integer math:

  ceil(num*|s|/den)  =  (num*|s| + den - 1) div den

and the verification filter is the exact cross-multiplication
  inter * den >= num * union
— no float ever decides membership.

Scale (100 TB): three shuffles, all key-bounded — token-frequency count,
per-doc window (doc-sized groups), and the prefix equi-join whose output
is the candidate set, not |docs|^2. The verify step re-joins candidate
ids against the collected token sets (ids-keyed). Skewed (stop-word-like)
tokens never enter prefixes by construction — frequency ordering is the
salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "jaccard_prefix_join",
    "jaccard_prefix_join_bipartite",
    "prefix_candidates",
]


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(F.split(text_col, " "))).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )


def _prefixes(toks: DataFrame, freq: DataFrame, num: int, den: int) -> DataFrame:
    """Rarest-p prefix tokens per doc under a SHARED frequency order."""
    # rarest-first global order; token string breaks frequency ties so the
    # order is total (any consistent total order preserves the lemma)
    w = Window.partitionBy("id").orderBy("df", "tok")
    ranked = (
        toks.join(freq, "tok")
        .withColumn("rnk", F.row_number().over(w))
        .withColumn("sz", F.count("*").over(Window.partitionBy("id")))
    )
    # p = sz - ceil(num*sz/den) + 1, ceiling via integer `div` (never a
    # double division — that's the rounding trap this module exists to avoid)
    prefix_len = (
        F.col("sz")
        - F.expr(f"({num} * sz + {den - 1}) div {den}")
        + F.lit(1)
    )
    return ranked.filter(F.col("rnk") <= prefix_len).select("id", "tok")


def _verified(
    cand: DataFrame, a_toks: DataFrame, b_toks: DataFrame, num: int, den: int
) -> DataFrame:
    """(a, b, jaccard) for the candidate pairs (a, b) = cand.columns whose
    distinct-token Jaccard >= num/den; a_toks / b_toks are the (id, tok)
    frames the two sides' ids come from."""
    a, b = cand.columns

    def sets(toks, side):
        return toks.groupBy("id").agg(
            F.collect_set("tok").alias(f"{side}_set"),
            F.count("*").alias(f"{side}_n"),
        ).withColumnRenamed("id", side)

    inter = F.size(F.array_intersect(f"{a}_set", f"{b}_set")).cast("long")
    return (
        cand.join(sets(a_toks, a), a)
        .join(sets(b_toks, b), b)
        .withColumn("inter", inter)
        .withColumn("u", F.col(f"{a}_n") + F.col(f"{b}_n") - F.col("inter"))
        # exact integer threshold test — floats only in the reported value
        .filter(F.col("inter") * F.lit(den) >= F.lit(num) * F.col("u"))
        .select(
            a,
            b,
            (F.col("inter").cast("double") / F.col("u").cast("double")).alias(
                "jaccard"
            ),
        )
    )


def prefix_candidates(
    toks: DataFrame, num: int, den: int
) -> DataFrame:
    """(a_id, b_id) candidate pairs from the prefix equi-join — every
    qualifying pair is here (lemma), plus the prefix-collision extras the
    verify step rejects. Exposed so the scale harness can measure the
    candidate count the pruning argument rests on."""
    freq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    prefix = _prefixes(toks, freq, num, den)
    return (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )


def jaccard_prefix_join(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 3,
    threshold_den: int = 5,
) -> DataFrame:
    """All (a_id, b_id, jaccard) pairs, a_id < b_id, with distinct-word-set
    Jaccard >= threshold_num/threshold_den. Tokenization: split on single
    spaces, empties dropped (mirrors the DuckDB oracle exactly)."""
    num, den = threshold_num, threshold_den
    toks = _tokens(docs, id_col, text_col)
    return _verified(prefix_candidates(toks, num, den), toks, toks, num, den)


def jaccard_prefix_join_bipartite(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """All CROSS-corpus pairs (left_id, right_id, jaccard) with
    distinct-word-set Jaccard >= num/den — the bipartite form of the
    prefix-filtering join (fuzzy decontamination: corpus docs too similar
    to any benchmark doc, where the exact-n-gram tier is
    q_decontaminate).

    The lemma needs ONE total token order shared by both sides, so the
    frequency frame is computed over the union of both corpora; prefixes
    are then equi-joined left-prefix x right-prefix. Pairs whose two ids
    are equal are NOT excluded here (caller decides; a doc present in
    both corpora is trivially its own match)."""
    num, den = threshold_num, threshold_den
    lt = _tokens(left, id_col, text_col)
    rt = _tokens(right, id_col, text_col)
    freq = (
        lt.unionByName(rt).groupBy("tok").agg(F.count("*").alias("df"))
    )
    la = _prefixes(lt, freq, num, den)
    rb = _prefixes(rt, freq, num, den)
    cand = (
        la.alias("a")
        .join(rb.alias("b"), "tok")
        .select(F.col("a.id").alias("left_id"), F.col("b.id").alias("right_id"))
        .distinct()
    )
    return _verified(cand, lt, rt, num, den)
