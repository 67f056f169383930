"""Measure the prefix-filtering prune on a LOW-duplication corpus.

The fixture documents are clique-heavy (candidates ~= results there, by
construction of the dedup fixtures), so this harness generates the regime
the pruning argument is FOR: n docs, ~12 mostly-unique tokens each plus
one corpus-wide frequent token, with a planted 1% near-dup rate
(doc i ≡ 0 mod 100 shares 10 of its 12 tokens with doc i-1, J = 10/14).

Reported per rung: all-pairs n(n-1)/2, prefix candidates, final result
pairs, wall. The claim under test: candidates ~ results + collisions,
orders of magnitude under all-pairs, and the frequent token never
generates a candidate (rarest-first ordering).

Usage: python tools/setjoin_scale.py [n ...]   (default 20000 100000)
Deterministic (pure column math, no RNG). Run on an idle machine.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rag_pipelines_spark.operators.setjoin import (  # noqa: E402
    _tokens,
    jaccard_prefix_join,
    prefix_candidates,
)
from rag_pipelines_spark.session import get_spark  # noqa: E402


def corpus(spark, n: int):
    """doc i: tokens u{i}_0..11 + 'common'; every 100th doc instead takes
    u{i-1}_0..9 + its own u{i}_10..11 (a planted near-dup, J = 10/14)."""
    base = spark.range(0, n)
    is_dup = (F.col("id") % 100 == 0) & (F.col("id") > 0)
    own = F.transform(
        F.sequence(F.lit(0), F.lit(11)),
        lambda j: F.concat_ws("_", F.lit("u"), F.col("id"), j),
    )
    dup = F.concat(
        F.transform(
            F.sequence(F.lit(0), F.lit(9)),
            lambda j: F.concat_ws("_", F.lit("u"), F.col("id") - 1, j),
        ),
        F.transform(
            F.sequence(F.lit(10), F.lit(11)),
            lambda j: F.concat_ws("_", F.lit("u"), F.col("id"), j),
        ),
    )
    toks = F.concat(F.when(is_dup, dup).otherwise(own), F.array(F.lit("common")))
    return base.select(
        F.col("id").alias("doc_id"), F.array_join(toks, " ").alias("text")
    )


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [20000, 100000]
    spark = get_spark("setjoin-scale")
    print("n | all_pairs | candidates | results | wall_s")
    for n in ns:
        docs = corpus(spark, n).localCheckpoint(eager=True)
        t0 = time.time()
        results = jaccard_prefix_join(docs, "doc_id", "text", 3, 5).count()
        wall = time.time() - t0
        cands = prefix_candidates(_tokens(docs, "doc_id", "text"), 3, 5).count()
        planted = (n - 1) // 100
        assert results == planted, (results, planted)
        print(
            f"{n} | {n * (n - 1) // 2} | {cands} | {results} | {wall:.2f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
