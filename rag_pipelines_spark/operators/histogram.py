"""Fixed-width histogram quantiles: a partial that adds, and an estimator.

operators/rollup.py refuses holistic aggregates (median/percentiles) —
they are not mergeable from partials. A fixed-bin-width histogram is
mergeable (bin counts add), deterministic (bin = floor(value/width), no
randomized sketch state), and gives quantile estimates with error
bounded by the bin width. Trade-off vs t-digest/KLL: you pick the
resolution up front (width), in exchange for exact mergeability,
bitwise-reproducible bins, and an oracle-checkable formula — the right
trade for a differential-tested engine. `q_histogram_quantiles` runs
`histogram_partial` -> `histogram_quantile` in one shot; no state family
folds these partials.

Scale posture: the histogram is one row per (key, occupied bin) —
bounded by range/width per key regardless of row count. The partial is
one hash aggregate. Quantile extraction windows over bins WITHIN a key
(a few hundred rows per partition at any corpus size — never
data-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


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
