"""Mergeable distinct-count (HLL) sketch state — the sketch answer to
the rollup's refusal of COUNT DISTINCT (operators/rollup.py raises on
`count_distinct` because distinct sets do not add; this module maintains
the Apache DataSketches HLL register state that DOES merge exactly).

Spark ships the sketch natively (`hll_sketch_agg` / `hll_union_agg` /
`hll_sketch_estimate` — JVM aggregates, whole-stage codegen around them,
no UDF): per-group state is ONE binary register array of
2^lgConfigK * ~1 byte, so a 100 TB stream's per-key distinct-user counts
live in a |groups|-row, KB-per-row state folded batch-by-batch — the
same incremental-view-maintenance shape as merge_rollup, folded through
the one state contract (operators/state.py::fold_state).

Merge-exactness: HLL union is a per-register MAX — commutative,
associative, idempotent — so `union(partials) == sketch(union)` holds at
the REGISTER level and the served estimate is merge-tree-invariant
(pinned by test: N-batch accretion equals the one-shot sketch estimate
exactly, not approximately). The estimate itself is approximate vs the
true distinct count (relative error ~1.04/sqrt(2^lgConfigK) ≈ 2.5% at
the lgConfigK=12 default) — which is why the registered query is
rows-only: DuckDB's approx_count_distinct uses a different sketch and
can never hash-match; the local test asserts the error envelope against
the exact count instead (tests/test_hllsketch.py).

ref: the reference has no distinct-count state at all (pandas nunique
per run, full rescan) — engine-native upgrade for the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.state import (
    fold_state,
    live_version_dir,
    stamp_params,
)

DEFAULT_LGK = 12  # 4096 registers, ~2.5% standard error


def hll_partial(batch: DataFrame, keys: list[str], item_col: str,
                lgk: int = DEFAULT_LGK) -> DataFrame:
    """One (keys..., sketch) row per group for a single batch; `sketch`
    carries its lgConfigK as column metadata (state.py::stamp_params)."""
    return (
        batch.filter(F.col(item_col).isNotNull())
        .groupBy(*keys)
        .agg(stamp_params(F.hll_sketch_agg(F.col(item_col), F.lit(lgk)),
                          "sketch", {"lgConfigK": lgk}))
    )


def merge_hll(spark, batch: DataFrame, state_path: str, *,
              keys: list[str], item_col: str, lgk: int = DEFAULT_LGK,
              epoch: int | None = None,
              state_partitions: int = 1,
              partial: DataFrame | None = None) -> None:
    """Fold one batch into the per-group HLL state (operators/state.py::
    fold_state; pass `epoch` for exactly-once under replay).

    union(state ∪ partial(batch)) at the register level. All sketches in
    a state dir share one lgConfigK: a different `lgk`, or a caller
    partial stamped with one, is refused on every fold, the first
    included — never a silent precision rebase.

    `partial`, when given, is this batch's (keys..., sketch) frame from
    `hll_partial(batch, keys, item_col, lgk)` with the SAME params — a
    caller draining several pending batches materializes the per-batch
    sketch partials concurrently (operators/concurrency.checkpoint_all)
    while the register-union folds stay sequential. Register union is
    per-slot MAX (associative/idempotent), so the state is identical.
    """
    fold_state(
        spark, state_path, what="hll-sketch state",
        params={"lgConfigK": lgk},
        partial=lambda: partial if partial is not None else hll_partial(
            batch, keys, item_col, lgk),
        combine=lambda old, part: old().unionByName(part).groupBy(*keys)
        .agg(F.hll_union_agg(F.col("sketch")).alias("sketch")),
        # |groups|-row state: one file per merge by default (avoid a
        # shuffle-partition-count spray of tiny files re-read every merge)
        write=lambda vdir, m: m.coalesce(state_partitions)
        .write.mode("overwrite").parquet(vdir),
        epoch=epoch,
    )


def read_hll(spark, state_path: str) -> DataFrame:
    live = live_version_dir(state_path, what="hll-sketch state")
    if live is None:
        raise FileNotFoundError(f"no hll-sketch state at {state_path}")
    return spark.read.parquet(live)


def hll_estimate(state: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., n_distinct_est) served from register state — no rescan."""
    return state.select(
        *keys, F.hll_sketch_estimate(F.col("sketch")).alias("n_distinct_est")
    )
