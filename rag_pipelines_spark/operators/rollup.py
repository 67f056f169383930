"""Incremental rollup (materialized-aggregate) maintenance.

The warehouse family's third leg: scd2_merge keeps *dimension history*
current per batch, merge_corpus_stats keeps *retrieval statistics*
current — this keeps a keyed AGGREGATE table current without ever
re-scanning the fact history. Classic incremental-view-maintenance for
the distributive/algebraic aggregates (count/sum/min/max, avg = sum ÷
count at read time): each batch reduces to one partial-aggregate row per
touched key, and the merge combines partials with the SAME combine
functions — associativity is what makes replay-free maintenance sound.

Scale posture: the state holds one row per key (not per event); a batch
merge shuffles |batch keys| + |state keys ∩ nothing| — the state is read
once, the batch is pre-aggregated before the union, and the combine is
one hash aggregate keyed like the state. At 100 TB of accreted facts the
rollup stays |keys|-sized and the merge cost tracks the BATCH, not the
history. State versioning/crash-safety = operators/state.py (same
manifest pointer scheme as the near-dup and corpus-stats state).

Holistic aggregates (exact distinct counts, medians, frequency top-k)
are NOT mergeable from partials — this module refuses rather than
silently approximating. The sketch tiers that ARE exactly mergeable live
beside it: operators/histogram.py (quantiles, <= bin-width error),
operators/hllsketch.py (distinct counts, HLL registers), and
operators/freqsketch.py (frequent items, Misra-Gries with a realized
error bound); callers needing exactness keep an auxiliary key-level
state (the near-dup pattern).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.state import (
    applied_epoch,
    commit_version,
    fold_state,
    live_version_dir,
    read_state_params,
    write_state_params,
    writer_lease,
)

# measure -> (batch partial, state combine). Each entry emits columns
# named <agg>_<col>; the combine re-aggregates those names.
_MERGEABLE = ("count", "sum", "min", "max")


def _partial_aggs(measures: dict[str, list[str]]):
    cols = []
    for col, aggs in measures.items():
        for a in aggs:
            if a not in _MERGEABLE:
                raise ValueError(
                    f"aggregate {a!r} on {col!r} is not mergeable from "
                    f"partials; supported: {_MERGEABLE} (avg = sum/count "
                    "at read time)"
                )
            out = f"{a}_{col}"
            if a == "count":
                cols.append(F.count(col).alias(out))
            elif a == "sum":
                # exact decimal: the merged value is then IDENTICAL no
                # matter how history was sliced into batches (double sums
                # would drift by merge-tree shape) — repo determinism
                # contract, queries/_util.py
                cols.append(
                    F.sum(F.col(col).cast("decimal(30,15)"))
                    .cast("decimal(30,15)")
                    .alias(out)
                )
            else:
                cols.append(getattr(F, a)(col).alias(out))
    return cols


def _combine_aggs(measures: dict[str, list[str]]):
    cols = []
    for col, aggs in measures.items():
        for a in aggs:
            name = f"{a}_{col}"
            if a == "sum":
                # keep the state schema stable across versions (a bare
                # decimal SUM widens precision every merge)
                cols.append(
                    F.sum(name).cast("decimal(30,15)").alias(name)
                )
            elif a == "count":
                cols.append(F.sum(name).alias(name))
            else:
                cols.append(getattr(F, a)(name).alias(name))
    return cols


def rollup_batch(batch: DataFrame, keys: list[str],
                 measures: dict[str, list[str]]) -> DataFrame:
    """One partial-aggregate row per key for a single batch."""
    return batch.groupBy(*keys).agg(*_partial_aggs(measures))


def merge_rollup(spark, batch: DataFrame, state_path: str, *,
                 keys: list[str], measures: dict[str, list[str]],
                 epoch: int | None = None) -> None:
    """Fold one batch into the keyed rollup state (operators/state.py::
    fold_state; pass `epoch` for exactly-once under replay).

    combine(state ∪ partial(batch)) == partial(history ∪ batch) — pinned
    by test (N merges == one-shot groupBy over the union).
    """
    fold_state(
        spark, state_path, what="rollup state",
        params={"keys": keys, "measures": measures},
        partial=lambda: rollup_batch(batch, keys, measures),
        combine=lambda old, part: old().unionByName(part)
        .groupBy(*keys).agg(*_combine_aggs(measures)),
        write=lambda vdir, m: m.write.mode("overwrite").parquet(vdir),
        epoch=epoch,
    )


def read_rollup(spark, state_path: str) -> DataFrame:
    live = live_version_dir(state_path, what="rollup state")
    if live is None:
        raise FileNotFoundError(f"no rollup state at {state_path}")
    return spark.read.parquet(live)


def compact_rollup_state(
    spark,
    state_path: str,
    *,
    min_count: int | None = None,
    count_col: str | None = None,
    cluster_by: list[str] | None = None,
    num_partitions: int | None = None,
) -> tuple[int, int]:
    """Rewrite the live rollup version into a bounded, optionally pruned
    file set; returns (rows_before, rows_after).

    Two jobs, same rewrite:

    * **File-count bound** — merge_rollup rewrites whole versions, but a
      long-lived state accretes small files when batches are small (each
      commit inherits the previous version's partitioning ∪ the batch's).
      The compacted copy is written at a fixed ``num_partitions``,
      optionally hash-clustered on ``cluster_by`` so serve-side equi-joins
      (e.g. the gram-digest probe in q_substring_from_state) shuffle-prune
      to matching partitions.

    * **min_count pruning** — the sizing knob SCALE.md names for the
      count-shaped states (substring gram counts, LM bigram tails): drop
      rows whose ``count_col`` is below ``min_count``. For a state whose
      ONLY consumers filter at ``count >= min_count`` (duplicated-gram
      serving filters at 2), pruning below that threshold preserves every
      served verdict for grams at/above it — pinned by test. Documented
      loss for rows BELOW it: their partial counts are forgotten, so a
      gram with (min_count - 1) pre-compaction occurrences needs
      min_count NEW post-compaction occurrences to cross the threshold —
      a bounded undercount that can only delay a positive verdict, never
      invent one (false negatives across the compaction horizon only;
      no false positives, counts never inflate). The LM familiarity
      analogue: pruning the singleton-bigram tail lowers hit-rates for
      exactly those rare bigrams — the standard CCNet vocabulary cut.

    Crash safety is the shared version-commit ritual (operators/state.py):
    new version dir -> atomic manifest flip -> GC with one-generation
    reader grace; the live version's applied epoch and ``_meta.json`` are
    carried forward so a replayed micro-batch is still recognized and the
    next fold's geometry check still passes after compaction.
    Single-writer under the state lease, like every merge.
    """
    if (min_count is None) != (count_col is None):
        raise ValueError("min_count and count_col must be passed together")
    with writer_lease(state_path, what="rollup state"):
        live = live_version_dir(state_path, what="rollup state")
        if live is None:
            raise FileNotFoundError(f"no rollup state at {state_path}")
        state = spark.read.parquet(live)
        n_before = state.count()
        if min_count is not None:
            state = state.filter(F.col(count_col) >= min_count)
        n = num_partitions or spark.sparkContext.defaultParallelism
        compacted = (
            state.repartition(n, *cluster_by) if cluster_by
            else state.repartition(n)
        )
        n_after = compacted.count()
        # epoch and geometry carried forward BEFORE the flip
        # (applied_epoch resolves the manifest, which still names the old
        # live inside this lease); without _meta.json the next merge_rollup
        # would refuse the compacted version
        epoch = applied_epoch(state_path, what="rollup state")
        params = read_state_params(live)

        def _write(vdir: str) -> None:
            compacted.write.mode("overwrite").parquet(vdir)
            if params is not None:
                write_state_params(vdir, params)

        commit_version(state_path, _write, epoch=epoch,
                       prev=os.path.basename(live))
    return n_before, n_after
