"""Mergeable histogram sketch: quantiles for the incremental-rollup family.

operators/rollup.py refuses holistic aggregates (median/percentiles) —
they are not mergeable from partials. This module is the standing answer:
a fixed-bin-width histogram IS mergeable (bin counts add), deterministic
(bin = floor(value/width), no randomized sketch state), and gives
quantile estimates with error bounded by the bin width. Trade-off vs
t-digest/KLL: you pick the resolution up front (width), in exchange for
exact mergeability, bitwise-reproducible state, and an oracle-checkable
formula — the right trade for a differential-tested engine.

Scale posture: the state is one row per (key, occupied bin) — bounded by
range/width per key regardless of row count. The batch partial is one
hash aggregate; the merge is a union + re-aggregate keyed like the
state. Quantile extraction windows over bins WITHIN a key (a few hundred
rows per partition at any corpus size — never data-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.state import fold_state, live_version_dir


def histogram_partial(batch: DataFrame, keys: list[str], col: str,
                      width: float) -> DataFrame:
    """One (keys..., bin, n) row per occupied bin; bin = floor(col/width).

    NULL values are excluded (standard quantile semantics) — a null bin
    would sort first in the cumulative window, pad every real bin's
    cumulative count, and shift/NULL-poison the quantile estimates.
    """
    return (
        batch.filter(F.col(col).isNotNull())
        .select(*keys, F.floor(F.col(col) / F.lit(width)).alias("bin"))
        .groupBy(*keys, "bin")
        .agg(F.count("*").alias("n"))
    )


def merge_histogram(spark, batch: DataFrame, state_path: str, *,
                    keys: list[str], col: str, width: float,
                    epoch: int | None = None) -> None:
    """Fold one batch into histogram state (operators/state.py::
    fold_state; pass `epoch` for exactly-once under replay). counts add
    ⇒ N merges == one-shot, pinned by test. Bins of different widths do
    not add, so a different `width` is refused."""
    fold_state(
        spark, state_path, what="histogram state", params={"width": width},
        partial=lambda: histogram_partial(batch, keys, col, width),
        combine=lambda old, part: old().unionByName(part)
        .groupBy(*keys, "bin").agg(F.sum("n").alias("n")),
        write=lambda vdir, m: m.write.mode("overwrite").parquet(vdir),
        epoch=epoch,
    )


def read_histogram(spark, state_path: str) -> DataFrame:
    live = live_version_dir(state_path, what="histogram state")
    if live is None:
        raise FileNotFoundError(f"no histogram state at {state_path}")
    return spark.read.parquet(live)


def histogram_quantile(hist: DataFrame, keys: list[str], width: float,
                       prob: float) -> DataFrame:
    """Quantile estimate per key from a (keys..., bin, n) histogram.

    pos = prob * total; the estimate interpolates inside the first bin
    whose cumulative count reaches pos:
        est = width * (bin + (pos - cum_before) / n_bin)
    Error ≤ width against the EMPIRICAL-CDF (inverted-CDF / type-1)
    quantile — that value provably lies in the reached bin (pinned by a
    hypothesis property test). Order-statistic interpolation estimators
    (numpy's default linear method) are a different definition whose
    distance from any histogram is bounded by the data gap instead. All
    arithmetic is per-row IEEE double on integer inputs — bitwise equal
    in the DuckDB oracle mirror (queries/warehouse.py).
    """
    w_cum = (
        W.partitionBy(*keys).orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    )
    cum = hist.select(
        *keys,
        "bin",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(W.partitionBy(*keys)).alias("total"),
    )
    pos = F.lit(prob) * F.col("total").cast("double")
    eligible = cum.filter(F.col("cum").cast("double") >= pos)
    w_first = W.partitionBy(*keys).orderBy("bin")
    first = eligible.withColumn(
        "rk", F.row_number().over(w_first)
    ).filter(F.col("rk") == 1)
    est = F.lit(width) * (
        F.col("bin").cast("double")
        + (pos - (F.col("cum") - F.col("n")).cast("double"))
        / F.col("n").cast("double")
    )
    # round(.,9) is cross-engine-safe only while |est| < ~1e6 (15 sig
    # digits total — see the q_aqp_sum sf10 lesson in SCALE.md); the
    # estimate's magnitude is the VALUE domain, so for larger domains
    # scale the values or widen the bin instead of trusting the round.
    # round(), not int(): int(0.29 * 100) == 28 (float truncation)
    return first.select(*keys, F.round(est, 9).alias(f"q{round(prob * 100)}"))
