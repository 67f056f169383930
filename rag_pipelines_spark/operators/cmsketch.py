"""Mergeable Count-Min sketch state — point-frequency estimates over an
unbounded item domain in FIXED space (Cormode & Muthukrishnan 2005).

Where the freq sketch (operators/freqsketch.py) answers "top-k items per
group", Count-Min answers the complementary point query — "how often did
THIS item occur?" — for any item, including ones that never ranked top-k,
in O(depth × width) counters per group regardless of vocabulary size:

    counters[d][h_d(item) % width] += n        (build / merge = counter add)
    est(item) = min over d of counters[d][h_d(item) % width]

Guarantee: est >= true count always (counters only over-count via
collisions), and est <= true + 2eN with probability 1 - (1/2)^depth for
width >= 2/e (the classic bound). Counters are plain sums, so the merge
of two sketches is element-wise addition — exactly mergeable, any merge
tree, bitwise deterministic (counts ride decimal(30,0) like every other
sketch family here).

Engine-portable hashing (the driver-oracle contract): row h_d(item) is
the first 15 md5 nibbles of "<d>|<item>" as a long, mod width — the SAME
recipe as operators/dsir.py::_bucket, so DuckDB replicates every counter
bitwise:  CAST(concat('0x', substr(md5(CAST(d AS VARCHAR) || '|' || item),
1, 15)) AS BIGINT) % width. Unlike most CM deployments the hash is NOT
pairwise-independent per row (md5 truncations are fine in practice and
deterministic across engines, which is what the correctness gate needs);
the error bound is validated empirically in tests/test_cmsketch.py.

Scale design (100 TB):
  * The only corpus-sized shuffle is the exact (keys, item) pre-count —
    map-side combinable. The depth-fold explodes the VOCABULARY-sized
    counted frame (×depth), then re-reduces to <= |groups|·depth·width
    counter rows.
  * State is O(|groups|·depth·width) rows forever — merging a batch into
    a 100 TB history touches KBs of counters, never history.
  * Estimates are a broadcast-sized probe frame left-joined against the
    counter state on (keys, d, bucket) — an equi-join, never a scan of
    raw history.

Manifest/versioned-prefix state + epoch guard + writer lease + geometry
check: the one fold contract, operators/state.py::fold_state.

ref: fda_watcher.py recomputes pandas value_counts per run and keeps no
frequency state at all; this is the fixed-space engine-native upgrade
(same role the freq/HLL/KMV sketches play for their query classes).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.freqsketch import _join_null_safe
from rag_pipelines_spark.operators.state import (
    fold_state,
    live_version_dir,
    read_state_params,
    stamp_params,
)

_CNT = "decimal(30,0)"


def cm_bucket(d: Column, item: Column, width: int) -> Column:
    """Engine-portable counter column for hash row d: first 15 md5
    nibbles of "<d>|<item>" as a long, mod width (both operands
    non-negative, so pmod == DuckDB's %)."""
    key = F.concat_ws("|", d.cast("string"), item.cast("string"))
    return F.pmod(
        F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long"),
        F.lit(width),
    )


def cm_partial(batch: DataFrame, keys: list[str], item_col: str, *,
               depth: int, width: int) -> DataFrame:
    """Count-Min counters of ONE batch: (keys..., d, bucket, cnt).

    One exact hash-agg over the batch (map-side combined), then the
    depth-fold runs on the vocabulary-sized counted frame. NULL items
    are excluded (nothing to count, matching the freq/HLL convention);
    NULL group keys are a first-class group (groupBy keeps them). `cnt`
    carries (depth, width) as column metadata (state.py::stamp_params)."""
    nn = batch.filter(F.col(item_col).isNotNull())
    counted = nn.groupBy(*keys, F.col(item_col).alias("item")).agg(
        F.count("*").cast(_CNT).alias("n")
    )
    rows = counted.select(
        *keys,
        "item",
        "n",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
    ).withColumn("bucket", cm_bucket(F.col("d"), F.col("item"), width))
    return rows.groupBy(*keys, "d", "bucket").agg(stamp_params(
        F.sum("n").cast(_CNT), "cnt", {"depth": depth, "width": width}
    ))


def merge_cm(spark, batch: DataFrame, state_path: str, *,
             keys: list[str], item_col: str, depth: int = 4,
             width: int = 1024, epoch: int | None = None,
             state_partitions: int = 1,
             partial: DataFrame | None = None) -> None:
    """Fold one batch into the Count-Min state (element-wise counter
    add; operators/state.py::fold_state, pass `epoch` for exactly-once
    under replay). (depth, width) are pinned in the version's _meta.json
    and stamped on cm_partial's `cnt` — counters from different
    geometries are not addable, so a mismatch raises on every fold.

    State files default to ONE partition: the counter table is hard-
    capped at |groups|·depth·width rows (~4k per group at the 4×1024
    default) — `state_partitions` fans out for high-cardinality keys.

    `partial`, when given, is this batch's counter frame already
    produced by `cm_partial(batch, keys, item_col, depth, width)` — a
    caller draining several pending batches builds the per-batch
    partials concurrently (operators/concurrency.checkpoint_all) while
    the state folds stay strictly sequential; counters are element-wise
    adds, so state bytes are bit-identical to the sequential path."""

    def build() -> DataFrame:
        # materialize the batch partial BEFORE the fold (freqsketch
        # discipline): the corpus-sized pre-count runs exactly once, with
        # the plan's full parallelism; a lazy partial would re-run the
        # corpus agg inside the write job, where coalesce(1) would ALSO
        # collapse it to one task. A caller's partial is checkpointed too
        # (r10 ADVICE) — a few ms on an already-checkpointed KB frame.
        p = partial if partial is not None else cm_partial(
            batch, keys, item_col, depth=depth, width=width)
        return p.localCheckpoint(eager=True)

    fold_state(
        spark, state_path, what="count-min state",
        params={"depth": depth, "width": width},
        partial=build,
        combine=lambda old, b: old("counters").unionByName(b)
        .groupBy(*keys, "d", "bucket")
        .agg(F.sum("cnt").cast(_CNT).alias("cnt")),
        write=lambda vdir, c: c.coalesce(state_partitions)
        .write.mode("overwrite").parquet(os.path.join(vdir, "counters")),
        epoch=epoch,
    )


def read_cm(spark, state_path: str):
    """(counters_df, (depth, width)) of the live Count-Min state."""
    live = live_version_dir(state_path, what="count-min state")
    if live is None:
        raise FileNotFoundError(f"no count-min state at {state_path}")
    meta = read_state_params(live)
    return (
        spark.read.parquet(os.path.join(live, "counters")),
        (meta["depth"], meta["width"]),
    )


def cm_estimate(spark, state_path: str, probes: DataFrame, *,
                keys: list[str]) -> DataFrame:
    """Point-frequency estimates from state: for each probe row
    (keys..., item), est = min over d of the addressed counter (absent
    counter = 0 — an item whose every row lands in an untouched bucket
    genuinely never occurred). Returns (keys..., item, est) with
    est >= true count always.

    The probe frame is serving-batch-sized; the join against the
    bounded counter state is an equi-join on (keys, d, bucket)."""
    counters, (depth, width) = read_cm(spark, state_path)
    p = probes.select(
        *keys,
        "item",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
    ).withColumn("bucket", cm_bucket(F.col("d"), F.col("item"), width))
    joined = _join_null_safe(
        p, counters, [*keys, "d", "bucket"], "left"
    ).withColumn("cnt0", F.coalesce(F.col("cnt"), F.lit(0).cast(_CNT)))
    return joined.groupBy(*keys, "item").agg(
        F.min("cnt0").cast("long").alias("est")
    )


def cm_join_size(counters_a: DataFrame, counters_b: DataFrame, *,
                 keys: list[str] | None = None) -> DataFrame:
    """Estimate an equi-join's output cardinality from two Count-Min
    sketches WITHOUT running the join (the AMS/CM inner-product
    estimator: |A join B on k| = Σ_k a_k·b_k <= Σ_bucket cntA·cntB for
    every hash row, so the min over depth rows is a one-sided
    overestimate — Cormode & Muthukrishnan 2005 §4.2).

    Both sketches must share geometry AND the item column (the join
    key). `keys` are optional group columns carried through (e.g. a
    per-partition-date estimate); None/[] estimates one global size.
    A group present in only ONE sketch is still reported — with est=0,
    the true size of a join whose other side has no rows for that group
    (full-outer on the keys, missing-side counters read as 0), honoring
    the documented (keys..., est) per-group contract.

    This is the 100 TB planner's primitive: sizing a prospective join
    costs |groups|·depth·width counter rows — KBs — instead of a
    shuffle of both inputs. Output: (keys..., est) with est >= true.

    Counter products ride decimal(19,0)×decimal(19,0) -> decimal(38,0)
    (exact to 1e38; counts are <= input rows so products fit far below
    that at any real scale), summed exactly — bitwise reproducible in
    DuckDB for the oracle."""
    keys = keys or []
    a = counters_a.select(
        *keys, "d", "bucket", F.col("cnt").cast("decimal(19,0)").alias("ca")
    )
    b = counters_b.select(
        *keys, "d", "bucket", F.col("cnt").cast("decimal(19,0)").alias("cb")
    )
    # Full-outer on (keys, d, bucket) with NULL-safe key equality and
    # coalesced output keys: buckets missing on one side contribute a 0
    # product (bitwise-identical sums for shared groups), and one-sided
    # groups survive to the output as est=0 instead of being dropped.
    jk = [*keys, "d", "bucket"]
    b2 = b
    for i, k in enumerate(jk):
        b2 = b2.withColumnRenamed(k, f"__nk{i}")
    cond = None
    for i, k in enumerate(jk):
        c = a[k].eqNullSafe(F.col(f"__nk{i}"))
        cond = c if cond is None else cond & c
    prods = a.join(b2, cond, "full_outer").select(
        *[
            F.coalesce(a[k], F.col(f"__nk{i}")).alias(k)
            for i, k in enumerate(jk)
        ],
        F.coalesce(F.col("ca"), F.lit(0).cast("decimal(19,0)")).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0).cast("decimal(19,0)")).alias("cb"),
    )
    per_row = prods.groupBy(*keys, "d").agg(
        F.sum((F.col("ca") * F.col("cb")).cast("decimal(38,0)")).alias("ip")
    )
    return per_row.groupBy(*keys).agg(
        F.min("ip").cast("long").alias("est")
    )
