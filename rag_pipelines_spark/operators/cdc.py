"""Change-data-capture operators: snapshot diff and type-2 history.

The reference's whole incremental story is "which scraped rows are new vs
the master table" (fda_watcher.py:397-416) — a one-sided anti-join (J1).
`snapshot_diff` generalizes it to the full CDC triple (added / removed /
updated) between any two snapshots of a keyed table, which is what a
scheduled 100 TB ingest actually needs: re-crawls *change* and *delete*
rows, not just add them.

Scale notes:
  * one full-outer sort-merge join on the key — a single shuffle, AQE
    handles skewed keys; payload comparison is an md5 over concatenated
    columns computed map-side: `snapshot_diff` always projects each side
    to (key, md5) before the join, so the shuffle never carries the
    payload itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def payload_hash(df: DataFrame, cols: list[str]) -> F.Column:
    """Order-stable md5 over the payload columns (null-safe sentinel)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("<null>")) for c in cols]
    return F.md5(F.concat_ws("\x1f", *parts))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    payload_cols: list[str],
) -> DataFrame:
    """Rows added / removed / updated between two snapshots of a keyed table.

    Returns (key, change) with change in {'added','removed','updated'};
    unchanged rows are dropped. Both sides are reduced to (key, hash)
    *before* the join, so the full-outer shuffle moves two narrow columns
    regardless of payload width.
    """
    o = old.select(F.col(key), payload_hash(old, payload_cols).alias("_oh"))
    n = new.select(F.col(key), payload_hash(new, payload_cols).alias("_nh"))
    joined = o.join(n, on=key, how="full_outer")
    change = (
        F.when(F.col("_oh").isNull(), F.lit("added"))
        .when(F.col("_nh").isNull(), F.lit("removed"))
        .when(F.col("_oh") != F.col("_nh"), F.lit("updated"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(key, "change")
    )


def scd2_from_events(
    events: DataFrame,
    key: str = "user_id",
    attr: str = "event_type",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Collapse a change/event stream into type-2 dimension rows.

    Output: (key, attr, valid_from, valid_to, is_current) — one row per
    consecutive run of `attr` per key, intervals contiguous, exactly one
    open (is_current=1) row per key. `tiebreak` must totally order events
    within a (key, ts) tie or both the change detection and the interval
    close become nondeterministic.

    One shuffle total: the lag (change detect) and lead (interval close)
    windows share the same (key) partitioning and (ts, tiebreak)-prefix
    sort, so Catalyst reuses a single exchange+sort. No self-join against
    history — the naive MERGE formulation rewrites the whole dimension.
    History-preserving upgrade of the reference's latest-only master
    state (fda_watcher.py:397-416).
    """
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    changes = (
        events.withColumn("_prev", F.lag(attr).over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col(attr)))
        .select(
            key,
            F.col(attr).alias("attr"),
            F.col(ts).alias("valid_from"),
            F.col(tiebreak).alias("_tb"),
        )
    )
    w2 = Window.partitionBy(key).orderBy("valid_from", "_tb")
    return changes.select(
        key,
        "attr",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.when(F.lead("valid_from").over(w2).isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_current"),
    )


def scd2_merge(
    dim: DataFrame,
    batch: DataFrame,
    key: str = "user_id",
    attr: str = "event_type",
    ts: str = "ts",
    tiebreak: str = "event_id",
    validate: bool = True,
) -> DataFrame:
    """Merge a new event batch into an existing SCD2 dimension.

    The incremental form of `scd2_from_events`: closed rows and untouched
    keys pass through byte-identical; only the OPEN rows of keys present
    in the batch are replayed (as pseudo-events seeded at their
    valid_from) together with the batch, so the window recompute is
    batch-sized, never history-sized — a day's batch against a 100 TB
    dimension shuffles ~|batch| rows plus one open row per touched key.
    The touched-key set rides a broadcast anti/semi join (small side by
    construction).

    Requires batches in event-time order: every batch event for a key
    must be at-or-after that key's open valid_from (the seed tiebreak of
    -1 wins exact ties). `validate=True` (default) ENFORCES this — one
    batch-sized aggregation joined against the touched keys' open rows;
    any event older than its key's open interval start raises ValueError
    naming offending keys, because merging it would silently produce
    wrong intervals (the event belongs inside an already-closed row,
    which only a raw-history rebuild of that key can repair — the same
    contract as any warehouse SCD2 loader). The check costs one extra
    small job over |batch| + |touched open rows|; pass validate=False
    only when the feed is provably ordered upstream.

    Equivalence `scd2_merge(scd2(e<=T), e>T) == scd2(e)`, the
    empty-batch no-op, and the late-batch raise are pinned in
    tests/test_warehouse.py.
    """
    touched = batch.select(key).distinct()
    closed = dim.filter(F.col("is_current") == 0)
    open_rows = dim.filter(F.col("is_current") == 1)
    if validate:
        # broadcast the BATCH-sized side (per-key min ts — |touched| rows
        # by construction), never the dimension: open_rows is one row per
        # key of the whole dimension, and broadcasting it would collect a
        # dimension-sized set on the driver at every merge. The semi-join
        # first restricts the open set to touched keys (same shape as the
        # seeds join below), then the tiny b_min broadcast probes it.
        b_min = batch.groupBy(key).agg(F.min(ts).alias("_batch_min_ts"))
        open_touched = open_rows.join(
            F.broadcast(touched), key, "left_semi"
        ).select(key, "valid_from")
        viol = open_touched.join(F.broadcast(b_min), key).filter(
            F.col("_batch_min_ts") < F.col("valid_from")
        )
        bad = viol.select(key, "_batch_min_ts", "valid_from").take(3)
        if bad:
            raise ValueError(
                "scd2_merge: late events older than their key's open "
                f"interval — e.g. {[r.asDict() for r in bad]}; merging "
                "them would write silently wrong intervals. Rebuild the "
                "affected keys from raw history (scd2_from_events) "
                "instead."
            )
    untouched_open = open_rows.join(F.broadcast(touched), key, "left_anti")
    tb_type = dict(batch.dtypes)[tiebreak]
    seeds = open_rows.join(F.broadcast(touched), key, "left_semi").select(
        F.col(key),
        F.col("attr").alias(attr),
        F.col("valid_from").alias(ts),
        F.lit(-1).cast(tb_type).alias(tiebreak),
    )
    replay = seeds.unionByName(
        batch.select(key, attr, ts, tiebreak)
    )
    rebuilt = scd2_from_events(replay, key, attr, ts, tiebreak)
    return closed.unionByName(untouched_open).unionByName(rebuilt)
