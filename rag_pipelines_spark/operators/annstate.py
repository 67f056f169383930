"""Incremental ANN (IVF) index maintenance: frozen-centroid postings state.

The serving-side complement of the batch similarity tiers
(operators/similarity.py, operators/semdedup.py::ivf_topk_exact): a
standing corpus accretes batch-by-batch into an inverted-file index —
per-cell postings (cell, id, vector, norm) under the SAME
manifest/lease/epoch state contract the other incremental families use
(operators/state.py) — and queries probe the state without ever
re-scanning or re-assigning history.

Design choices, each load-bearing at scale:

  * **Centroids freeze at first init.** The k_seeds hash-min vectors of
    the FIRST batch become the cells, persisted beside the postings;
    later batches assign against the STORED seeds. That is how real IVF
    deployments maintain indexes (train/freeze centroids, grow lists;
    re-train = rebuild, here = new state root). Frozen seeds are also
    what makes N appends == one-shot build EXACTLY (pinned by test) —
    re-deriving seeds per batch would re-shuffle history's assignments.
  * **Hash-seeded deterministic seeds** (semdedup.hash_min_seeds of
    the init batch): no float averaging, so the DuckDB oracle
    reproduces the whole index life cycle and the serve query is
    hash-checked against it (q_ann_from_state).
  * **Append = postings rows only.** A batch pays one two-phase
    assignment pass against the stored seeds (a float64 matmul prune,
    then ~1 exact decimal cosine per row) and shuffles only its own
    rank window; state grows by |batch| rows (vector-sized — this
    family stores the vectors themselves, the price any
    re-rank-capable index pays).
  * **Exactly-once via commit markers.** The append runs under
    operators/state.py::append_state, the contract the near-dup key
    append shares: row presence is never the done signal.

Assignment and serving are operators/semdedup.py's IVF core:
postings are `nearest_seeds` (the one nearest-seed kernel, which
collects the k stored seeds per call) against the stored seeds, and
`ann_query_from_state` is `probe_topk` over the stored seeds and
postings — the same call ivf_topk_exact makes on a one-shot index, with
the same output contract as q_cosine_topk.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.semdedup import (
    hash_min_seeds,
    nearest_seeds,
    probe_topk,
)
from rag_pipelines_spark.operators.state import (
    append_state,
    compact_append_state,
    live_version_dir,
)
from rag_pipelines_spark.operators.vecexpr import norm2

__all__ = [
    "merge_ann_index",
    "ann_query_from_state",
    "read_ann_postings",
    "compact_ann_postings",
]

_WHAT = "ann index state"


def _seeds_dir(state_path: str) -> str:
    return os.path.join(state_path, "seeds")


def _read_seeds(spark, state_path: str) -> DataFrame:
    return spark.read.parquet(_seeds_dir(state_path)).select(
        "seed_id", "sv", "sn2"
    )


def merge_ann_index(
    spark,
    batch: DataFrame,
    state_path: str,
    id_col: str,
    vec_col: str,
    k_seeds: int = 32,
    epoch: int | None = None,
) -> None:
    """Fold one embedding batch into the frozen-centroid postings state.

    First call initializes the state: seeds = the k_seeds hash-min
    vectors OF THIS BATCH (frozen thereafter), then every call appends
    the batch's (cell, id, v, n2) postings under the commit-marker
    protocol. Safe to replay a marked epoch (no-op)."""
    norms = batch.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm2(F.col(vec_col)).alias("n2"),
    ).localCheckpoint(eager=True)
    if live_version_dir(state_path, what=_WHAT) is None and not norms.take(1):
        return  # nothing to freeze seeds from: state stays fresh

    def _init() -> None:
        # seeds BEFORE the manifest: a crash in between leaves a
        # manifest-less root, which live_version_dir reports as fresh
        # (refuse-to-look-empty holds: postings cannot exist yet)
        hash_min_seeds(norms, k_seeds).coalesce(1).write.mode(
            "overwrite"
        ).parquet(_seeds_dir(state_path))

    def _append(vdir: str) -> None:
        postings = nearest_seeds(norms, _read_seeds(spark, state_path), 1)
        if epoch is not None:
            postings = postings.withColumn("epoch", F.lit(epoch))
        postings.write.mode("append").parquet(vdir)

    append_state(state_path, what=_WHAT, epoch=epoch, write=_append,
                 init=_init)


def read_ann_postings(spark, state_path: str) -> DataFrame:
    live = live_version_dir(state_path, what=_WHAT)
    if live is None:
        raise FileNotFoundError(f"no ann index state at {state_path}")
    return spark.read.parquet(live)


def ann_query_from_state(
    spark,
    state_path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """(q_id, c_id, cosine, rk) — top-k over the accreted postings,
    probing each query's nprobe nearest STORED seeds. History is touched
    only as the postings table; no re-assignment, no text/vector rescan
    outside the probed cells."""
    postings = read_ann_postings(spark, state_path)  # fresh root raises
    qnorms = queries.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm2(F.col(vec_col)).alias("n2"),
    )
    return probe_topk(
        qnorms, _read_seeds(spark, state_path), postings, nprobe, k
    )


def compact_ann_postings(
    spark, state_path: str, num_partitions: int | None = None
) -> int:
    """Rewrite the accreted postings cell-clustered; returns the row count.

    Batch appends leave one small file-set per epoch; a probe reads only
    its nprobe cells' rows, so clustering the postings by cell turns
    that logical pruning into physical I/O pruning (min/max cell stats
    per file skip everything else) and caps the file count. The rewrite
    runs dropDuplicates: steady state holds one posting per vector, but
    a crash between an append's job commit and its marker makes the
    replay redo the append (merge_ann_index's contract) — doubled rows
    are invisible to top-k (distinct before ranking) and reclaimed here.

    Thin wrapper over operators/state.py::compact_append_state (the
    crash-safe rewrite compact_neardup_state shares).
    """
    return compact_append_state(
        spark, state_path, what=_WHAT, cluster_col="cell",
        num_partitions=num_partitions,
    )
