"""Capture iteration-body / merge-job plans the final-projection explain
cannot show (r10 VERDICT "What's wrong" #3: localCheckpoint truncates
lineage, so the committed q_pagerank / q_dup_clusters / serve-family
plans showed only the post-checkpoint projection and the per-iteration
claims had to be checked against code alone).

Each named body below builds ONE representative iteration/merge job on
real bench-SF inputs, stopping at the exact point the production code
would checkpoint/collect, and dumps .explain("formatted").

Usage:
    python tools/capture_body_plans.py <tag> [body ...]
    # bodies default to all; tag is before|after
Writes plans/r<N>/body_<name>_<tag>.txt (N from $SPARK_GRAFT_PLANS_ROUND,
default 11).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_ROUND = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "11")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    f"r{_ROUND}",
)


def _cc_round_body(spark):
    """One large-star + small-star round of connected_components, as
    q_dup_clusters runs it: input = the canonicalized candidate edge
    frame AFTER its first checkpoint (so the body plan is exactly what
    every subsequent round executes, ending at the next round's
    fingerprint agg)."""
    from pyspark.sql import functions as F

    from rag_pipelines_spark.io import table

    d = table(spark, SF_DIR, "documents")
    a = d.select(F.col("doc_id").alias("a_id"), F.col("lang").alias("a_lang"))
    b = d.select(F.col("doc_id").alias("b_id"), F.col("lang").alias("b_lang"))
    candidates = a.join(
        b, (F.col("b_id") == F.col("a_id") + 1) & (F.col("a_lang") == F.col("b_lang"))
    ).select("a_id", "b_id")
    from rag_pipelines_spark.operators.graph import _star_round

    dir_edges = (
        candidates.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    new_dir = _star_round(dir_edges)
    return new_dir.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.expr("bit_xor(xxhash64(hi, lo))"), F.lit(0).cast("long")
        ).alias("h"),
    )


def _bpe_merge_body(spark):
    """One BPE merge iteration's job: pair counts over the checkpointed
    symbolized vocab ending at the 1-row tie-broken argmax (the collect
    that also materializes the next vocab state's lazy checkpoint)."""
    from pyspark.sql import functions as F

    from rag_pipelines_spark.io import table
    from rag_pipelines_spark.operators.bpe import _pair_counts, word_vocab

    vocab = word_vocab(table(spark, SF_DIR, "documents"), max_word_len=32)
    v = vocab.select(
        "word", "freq", F.split("word", "").alias("s")
    ).localCheckpoint(eager=True)
    return (
        _pair_counts(v)
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(1)
    )


def _pagerank_iter_body(spark):
    """One PageRank iteration body on the BIGINT-keyed graph, ending at
    the rank frame the production loop would checkpoint (the committed
    q_pagerank plan shows only the final decode projection). Built by
    operators/pagerank.py's own `_prepare` and `_step`."""
    from rag_pipelines_spark.operators.pagerank import (
        TOTAL_MASS,
        _prepare,
        _step,
    )
    from rag_pipelines_spark.queries.graphrank import _graph_frames

    nodes, edges = _graph_frames(spark, SF_DIR)
    g, ranks = _prepare(nodes, edges, None, TOTAL_MASS, 85, 100)
    return _step(g, ranks)


def _freq_merge_body(spark):
    """One Misra-Gries batch-partial job of the freq-sketch serve family
    (the items side): the one hash-agg over the batch, the window prune
    sharing the row_number exchange, totals as union-sums — the per-merge
    job shape the committed serve plan (post-state-read) cannot show."""
    from pyspark.sql import functions as F

    from rag_pipelines_spark.io import table
    from rag_pipelines_spark.operators.freqsketch import freq_partial

    docs = table(spark, SF_DIR, "documents").filter(F.col("doc_id") % 3 == 0)
    terms = docs.select(
        "lang", F.explode(F.split(F.col("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    items, totals = freq_partial(terms, ["lang"], "term", 64)
    return items.join(totals, ["lang"])


BODIES = {
    "cc_round": _cc_round_body,
    "bpe_merge": _bpe_merge_body,
    "pagerank_prepare": _pagerank_iter_body,
    "freq_partial": _freq_merge_body,
}


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:] or list(BODIES)
    if tag not in ("before", "after"):
        raise SystemExit("usage: capture_body_plans.py before|after [body ...]")
    os.makedirs(OUT_DIR, exist_ok=True)

    from rag_pipelines_spark.session import get_spark

    spark = get_spark("capture-body-plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    rc = 0
    for name in names:
        fn = BODIES.get(name)
        if fn is None:
            print(f"ERR {name}: unknown body", file=sys.stderr)
            rc = 1
            continue
        try:
            df = fn(spark)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001
            print(f"ERR {name}: {exc}", file=sys.stderr)
            rc = 1
            continue
        path = os.path.join(OUT_DIR, f"body_{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# body:{name} @ {SF_DIR} ({tag})\n")
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
