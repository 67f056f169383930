"""Mergeable frequent-items (heavy-hitters) sketch state — the
Misra-Gries / mergeable-summaries answer to the rollup's refusal of
holistic "top-k by frequency" (operators/rollup.py raises on it; this
module is the sketch tier, exactly as operators/histogram.py is the
sketch tier for percentiles).

Sketch (per group): at most ``m`` (item, est) counters plus the group's
EXACT accumulated pruning offset ``err`` (the sum of the (m+1)-th-count
subtractions applied along this state's merge history), giving the
guarantee after ANY merge tree::

    est <= true_count <= est + err        and   err <= n_total/(m+1)

(the right inequality is the classic Agarwal et al. mergeable-summaries
telescoping bound; tracking the realized err instead of the worst case
is strictly tighter and — crucially — EXACTLY ZERO whenever m >= the
group's distinct item count, certifying the served counts exact).
Totals live in a side-table (keys, n_total, err), the same two-table
state shape as BM25 corpus stats.

State shape per group: <= m item rows + 1 totals row — O(|groups|·m)
regardless of corpus size, which is the whole point: a 100 TB stream's
per-language top terms are maintained by folding batch-sized partials
into a KB-sized state, never re-scanning history (same
incremental-view-maintenance shape as merge_rollup).

Exactness property used by the driver oracle: when m >= the group's
distinct item count, no pruning ever happens, d == 0 at every merge, and
est == true_count BITWISE — so the fixture query (vocab 31, m=64) is
hash-checked against DuckDB's exact GROUP BY counts, while the m <
distinct regime is pinned locally by the error-bound test
(tests/test_freqsketch.py).

Counts ride decimal(30,0): exact, associative — merge-order invariant
in the no-prune regime (a double sum would not be).

Manifest/versioned-prefix state + epoch guard + writer lease + geometry
check (``m``): the one fold contract, operators/state.py::fold_state.

ref: fda_watcher.py keeps no frequency state at all (the reference
recomputes pandas value_counts per run) — this is the engine-native
upgrade the 100 TB path needs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.state import fold_state, live_version_dir

_CNT = "decimal(30,0)"

# Target rows per state/partial partition when the caller doesn't pin a
# count. Sketch rows are ~100 B (group keys + item + decimal), so 4M rows
# ≈ a few hundred MB per task — comfortably in-memory for the window/
# joins, while keeping the common KB-sized state in ONE file.
_ROWS_PER_STATE_PARTITION = 4_000_000


def _derived_partitions(frame: DataFrame, override: int | None) -> int:
    """Partition count for a MATERIALIZED (localCheckpoint'd) frame:
    override if given, else ceil(rows / _ROWS_PER_STATE_PARTITION). The
    count is metadata-cheap on a checkpointed frame. This is the r5
    advice fix: a static coalesce(1) silently funneled a
    high-cardinality group key (per-domain instead of per-language
    stats) through one task; deriving from the actual group-by size
    keeps the single-file fast path for vocabulary-sized states and
    fans out automatically past it."""
    if override is not None:
        return override
    return max(1, -(-frame.count() // _ROWS_PER_STATE_PARTITION))


def _sized(df: DataFrame, n: int) -> DataFrame:
    """Set the partition count regardless of direction: coalesce can
    only shrink, and AQE often leaves these tiny shuffles at ONE
    partition — so fanning out (the whole point of the derived count for
    high-cardinality groups) needs a repartition."""
    return df.repartition(n) if n > 1 else df.coalesce(1)


def _join_null_safe(left: DataFrame, right: DataFrame, keys: list[str],
                    how: str) -> DataFrame:
    """Equi-join on group keys with NULL-safe equality (<=>), so a NULL
    group key is a first-class group — symmetric with merge_rollup /
    merge_hll, whose groupBy already keeps NULL groups (r5 advice: the
    old plain equi-joins dropped NULL groups' pruning offsets, so
    freq_partial had to exclude them and a NULL-lang doc vanished from
    the frequent-terms state while remaining counted in rollup/HLL).
    Still a hash-joinable condition (BroadcastHashJoin supports <=>)."""
    r = right
    for i, k in enumerate(keys):
        r = r.withColumnRenamed(k, f"__nk{i}")
    cond = None
    for i, k in enumerate(keys):
        c = left[k].eqNullSafe(F.col(f"__nk{i}"))
        cond = c if cond is None else cond & c
    return left.join(r, cond, how).drop(*[f"__nk{i}" for i in range(len(keys))])


def _prune(items: DataFrame, keys: list[str], m: int):
    """Reduce a (keys..., item, est) frame to <= m rows per group, MG-style:
    subtract the (m+1)-th largest count from the survivors and drop the
    rest. Returns (pruned_items, d_frame) where d_frame is the per-group
    subtraction (keys..., _d) actually applied — the increment to the
    group's realized error bound (absent group => 0). Window partitions
    are per-GROUP (bounded at the merged summary size
    <= 2m + distinct(batch), never data-sized).

    r10: the per-group subtraction rides a second window over the SAME
    partition keys (unordered/unbounded, so it shares the row_number's
    exchange) instead of the old d-frame left-join — one fewer join +
    exchange pair per prune in a path that is pure tiny-stage scheduling
    overhead at serve time. NULL group keys need no special casing here:
    partitionBy groups NULLs together natively (the join formulation
    needed <=> for the same guarantee). max() over the single rk==m+1
    row IS that row's est — values bit-identical."""
    w = W.partitionBy(*keys).orderBy(F.col("est").desc(), F.col("item"))
    wg = W.partitionBy(*keys)
    ranked = items.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_dd",
        F.max(F.when(F.col("_rk") == m + 1, F.col("est"))).over(wg),
    )
    d = ranked.filter(F.col("_rk") == m + 1).select(
        *keys, F.col("est").cast(_CNT).alias("_d")
    )
    pruned = (
        ranked.filter(F.col("_rk") <= m)
        .select(
            *keys,
            "item",
            (F.col("est") - F.coalesce(F.col("_dd"), F.lit(0).cast(_CNT)))
            .cast(_CNT)
            .alias("est"),
        )
        .filter(F.col("est") > 0)
    )
    return pruned, d


def freq_partial(batch: DataFrame, keys: list[str], item_col: str,
                 m: int, partial_partitions: int | None = None):
    """(items, totals) summary of ONE batch: exact per-item counts pruned
    to m per group (exact counts are a valid MG summary with zero error;
    pruning subtracts d from survivors and adds d to the group's realized
    err), plus exact group totals. ONE hash-agg shuffle over the batch —
    map-side combined; the counted frame is materialized
    (vocabulary-sized, not batch-sized) so items and totals both derive
    from it without re-scanning the batch (n_total == Σ est over the
    un-pruned counts, by construction). ``partial_partitions`` pins the
    post-count partitioning; default derives it from the counted size
    (see _derived_partitions)."""
    # NULL group keys are a real group (r6): every keys-join in this
    # module is NULL-safe (<=>, _join_null_safe), so the pruning offset
    # and totals follow a NULL group exactly like any other — symmetric
    # with merge_rollup/merge_hll, which keep NULL groups via groupBy.
    # NULL ITEMS are still excluded (nothing to count), matching the
    # hll-sketch's null-item filter.
    nn = batch.filter(F.col(item_col).isNotNull())
    counted = (
        nn.groupBy(*keys, F.col(item_col).alias("item"))
        .agg(F.count("*").cast(_CNT).alias("est"))
        .localCheckpoint(eager=True)
    )
    # vocabulary-sized → one task for the downstream window/joins beats
    # 32 near-empty ones; a huge group-by (high-cardinality keys) fans
    # out instead of funneling
    counted = _sized(counted, _derived_partitions(counted, partial_partitions))
    items, d = _prune(counted, keys, m)
    # totals via union-sum instead of a null-safe d-join (r10): the raw
    # counts contribute (est, 0) and the <=1-per-group pruning row
    # contributes (0, _d); one groupBy replaces the join+exchange pair.
    # groupBy keeps NULL group keys natively; decimal sums are exact, so
    # n_total = sum(est) and err = _d-or-0 are bit-identical to the
    # join formulation.
    totals = (
        counted.select(
            *keys,
            F.col("est").alias("_nt"),
            F.lit(0).cast(_CNT).alias("_er"),
        )
        .unionByName(
            d.select(
                *keys,
                F.lit(0).cast(_CNT).alias("_nt"),
                F.col("_d").alias("_er"),
            )
        )
        .groupBy(*keys)
        .agg(
            F.sum("_nt").cast(_CNT).alias("n_total"),
            F.sum("_er").cast(_CNT).alias("err"),
        )
    )
    return items, totals


def merge_freq(spark, batch: DataFrame, state_path: str, *,
               keys: list[str], item_col: str, m: int,
               epoch: int | None = None,
               state_partitions: int | None = None,
               partial: tuple[DataFrame, DataFrame] | None = None) -> None:
    """Fold one batch into the frequent-items state (operators/state.py::
    fold_state; pass `epoch` for exactly-once under replay).

    Merge rule (mergeable-summaries MG): per-item ests ADD across the two
    summaries (outer-union + sum), then the merged list re-prunes to m.
    totals add exactly.

    `state_partitions` sizes the state files. Default None DERIVES the
    count from the merged summary's measured size (state is
    O(|groups|·m) rows): the common vocabulary-sized state stays one
    file, while a high-cardinality group key (e.g. per-domain) fans out
    instead of funneling one task (r5 advice).

    `partial`, when given, is this batch's (items, totals) summary
    already produced by `freq_partial(batch, keys, item_col, m, ...)`
    with the SAME keys/item_col/m — a caller draining several pending
    batches builds the per-batch partials concurrently
    (operators/concurrency.run_all) while the folds stay sequential.
    The fold consumes exactly the frame the internal call would have
    produced — state bytes are bit-identical.
    """
    n_parts = state_partitions

    def combine(old, part):
        nonlocal n_parts
        b_items, b_totals = part
        # materialize the summed union once (state-sized, tiny): the
        # prune consumes it three times (ranked, d, totals-join) and
        # would otherwise re-run the read+union+shuffle per consumer
        summed = (
            old("items").unionByName(b_items)
            .groupBy(*keys, "item")
            .agg(F.sum("est").cast(_CNT).alias("est"))
            .localCheckpoint(eager=True)
        )
        n_parts = _derived_partitions(summed, state_partitions)
        items, d = _prune(_sized(summed, n_parts), keys, m)
        # same union-sum shape as freq_partial's totals (r10): old +
        # batch totals rows and the <=1-per-group merge-prune row
        # (0, _d) fold in one groupBy — no null-safe d-join
        totals = (
            old("totals").unionByName(b_totals)
            .select(*keys, "n_total", "err")
            .unionByName(
                d.select(
                    *keys,
                    F.lit(0).cast(_CNT).alias("n_total"),
                    F.col("_d").alias("err"),
                )
            )
            .groupBy(*keys)
            .agg(
                F.sum("n_total").cast(_CNT).alias("n_total"),
                F.sum("err").cast(_CNT).alias("err"),
            )
        )
        return items, totals

    def write(vdir: str, merged) -> None:
        # first init sizes from the batch items (derived from the
        # checkpointed partial); the two KB-sized write jobs go to
        # disjoint paths and overlap (guide §2.6) — the version only
        # becomes live at the MANIFEST flip after BOTH return
        from rag_pipelines_spark.operators.concurrency import run_all

        items, totals = merged
        n = n_parts or _derived_partitions(items, None)
        run_all(
            lambda: _sized(items, n).write.mode("overwrite").parquet(
                os.path.join(vdir, "items")),
            lambda: _sized(totals, n).write.mode("overwrite").parquet(
                os.path.join(vdir, "totals")),
        )

    fold_state(
        spark, state_path, what="freq-sketch state", params={"m": m},
        partial=lambda: partial if partial is not None else freq_partial(
            batch, keys, item_col, m, partial_partitions=state_partitions),
        combine=combine, write=write, epoch=epoch,
    )


def read_freq(spark, state_path: str):
    """(items, totals) DataFrames of the live freq-sketch state."""
    live = live_version_dir(state_path, what="freq-sketch state")
    if live is None:
        raise FileNotFoundError(f"no freq-sketch state at {state_path}")
    return (
        spark.read.parquet(os.path.join(live, "items")),
        spark.read.parquet(os.path.join(live, "totals")),
    )


def freq_topk(spark, state_path: str, *, keys: list[str],
              k: int) -> DataFrame:
    """Serve top-k per group from state with the REALIZED error bound.

    Output: (keys..., item, est, err_bound, rk) where
    est <= true <= est + err_bound; err_bound is the group's accumulated
    pruning offset (<= n_total/(m+1), the classic bound — and exactly 0
    when the state never pruned, certifying the served counts and the
    ranking EXACT: the regime the fixture oracle hash-checks).
    Deterministic tie-break on item.
    """
    items, totals = read_freq(spark, state_path)
    w = W.partitionBy(*keys).orderBy(F.col("est").desc(), F.col("item"))
    return (
        _join_null_safe(items, totals, keys, "inner")
        .withColumn("err_bound", F.col("err").cast("long"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(*keys, "item", F.col("est").cast("long").alias("est"),
                "err_bound", "rk")
    )
